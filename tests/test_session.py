"""The engine's SparkSession: its worker daemon and where it can run from."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from openair_spark.spark import daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def rereads(monkeypatch):
    """Install the daemon's patch in this process; returns the archives
    the stock `invalidate_caches` was called for, in call order."""
    calls: list[str] = []
    stock = zipimport.zipimporter.invalidate_caches

    def counting(self):
        calls.append(self.archive)
        stock(self)

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        daemon.stat_gated(counting))
    yield calls
    for name in ("zipprobe_a", "zipprobe_b", "zipprobe_c"):
        sys.modules.pop(name, None)


def test_python_tasks_use_engine_daemon(spark):
    def patched_in(_):
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__code__.co_filename

    (seen,) = spark.sparkContext.parallelize([0], 1).map(patched_in).collect()
    assert os.path.samefile(seen, daemon.__file__)


def test_rewritten_archive_is_reread(tmp_path, monkeypatch, rereads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zipprobe_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("zipprobe_a").X == 1
    importlib.invalidate_caches()  # the importer is stamped from here on
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zipprobe_b")

    _write_zip(archive, {"zipprobe_a": "X = 1\n", "zipprobe_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zipprobe_b").Y == 2


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, rereads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zipprobe_c": "Z = 3\n"})
    monkeypatch.syspath_prepend(archive)
    importlib.import_module("zipprobe_c")
    importlib.invalidate_caches()
    n = rereads.count(archive)
    assert n >= 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert rereads.count(archive) == n

    st = os.stat(archive)  # same bytes, new mtime
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert rereads.count(archive) == n + 1


def test_engine_importable_from_any_cwd(tmp_path):
    """A session whose driver runs outside the checkout still runs the
    engine's kernels: the daemon and the workers find the package."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from openair_spark.ops.pip import polygon_cells_at_res
        from openair_spark.spark.session import get_spark

        spark = get_spark("cwd-probe", cpus=1, shuffle_partitions=1)
        ring = [[8.0, 47.0], [8.2, 47.0], [8.2, 47.2], [8.0, 47.2], [8.0, 47.0]]
        polys = spark.createDataFrame([("p", ring)],
                                      "polygon_id string, ring array<array<double>>")
        print("CELLS", polygon_cells_at_res(polys, res=7).count())
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    cells = [ln for ln in out.stdout.splitlines() if ln.startswith("CELLS ")]
    assert cells, out.stderr[-2000:]
    assert int(cells[0].split()[1]) > 0
