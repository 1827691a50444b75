"""The worker daemon (``daemon.py``): lazy zip-archive reloads and the
frozen import heap.

The first four tests need no Spark: they drive a ``zipimporter`` on an
archive in ``tmp_path`` and count directory reads with a spy on
``zipimport._read_directory``. The Spark tests run in the session from
``get_spark``, whose workers are forked from the daemon.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from bigdata_pipelines_aws_glue_spark import daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LAZY = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="zipimporter reloads lazily from 3.12"
)


@pytest.fixture
def lazy(monkeypatch):
    """Install the daemon's patch for one test; monkeypatch restores it."""
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    daemon.lazy_zip_reloads()


@pytest.fixture
def reads(monkeypatch):
    """Archives whose directory ``zipimport`` parsed, one entry per read."""
    calls = []
    real = zipimport._read_directory

    def spy(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    return calls


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@LAZY
def test_unchanged_archive_is_read_once(tmp_path, lazy, reads):
    archive = str(tmp_path / "a.zip")
    _write_zip(archive, {"graft_zip_a": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    reads.clear()  # the constructor's read
    for _ in range(4):
        importer.invalidate_caches()
    # the first call records the archive's stat; the rest skip the read
    assert reads == [archive]


@LAZY
def test_rewritten_archive_is_reread_and_new_module_imports(tmp_path, lazy, reads):
    archive = str(tmp_path / "b.zip")
    _write_zip(archive, {"graft_zip_b1": "X = 1\n"})
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("graft_zip_b1").X == 1
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        _write_zip(archive, {"graft_zip_b1": "X = 1\n", "graft_zip_b2": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 2
        assert importlib.import_module("graft_zip_b2").Y == 2
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        sys.modules.pop("graft_zip_b1", None)
        sys.modules.pop("graft_zip_b2", None)


@LAZY
def test_deleted_archive_takes_original_path(tmp_path, lazy, reads):
    archive = str(tmp_path / "c.zip")
    _write_zip(archive, {"graft_zip_c": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    reads.clear()
    importer.invalidate_caches()
    os.remove(archive)
    importer.invalidate_caches()
    assert reads == [archive, archive]
    assert importer.find_spec("graft_zip_c") is None


def test_python_312_is_left_untouched(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    daemon.lazy_zip_reloads()
    assert zipimport.zipimporter.invalidate_caches is original


def test_warm_task_rereads_no_archive(spark):
    def reads_per_invalidate(batches):
        import importlib
        import zipimport

        import pandas as pd

        calls = []
        real = zipimport._read_directory

        def spy(archive):
            calls.append(archive)
            return real(archive)

        zipimport._read_directory = spy
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(calls)]})

    df = spark.range(0, 4, numPartitions=4).mapInPandas(
        reads_per_invalidate, "reads long"
    )
    df.collect()  # warm the workers
    assert [r.reads for r in df.collect()] == [0, 0, 0, 0]


def test_warm_task_collects_outside_the_frozen_import_heap(spark):
    """The daemon freezes its imports before forking, so the full
    collect a reused worker runs after each task skips them."""

    def heap(batches):
        import gc

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame(
            {"frozen": [gc.get_freeze_count()], "tracked": [len(gc.get_objects())]}
        )

    df = spark.range(0, 4, numPartitions=4).mapInPandas(
        heap, "frozen long, tracked long"
    )
    df.collect()  # warm the workers
    rows = df.collect()
    assert all(r.frozen > 0 for r in rows), rows
    assert all(r.tracked < r.frozen for r in rows), rows


def test_add_py_file_module_imports_in_next_task(spark, tmp_path):
    def value(batches):
        import pandas as pd

        for _ in batches:
            pass
        import graft_added_module

        yield pd.DataFrame({"v": [graft_added_module.VALUE]})

    def ident(batches):
        yield from batches

    spark.range(0, 4, numPartitions=4).mapInPandas(ident, "id long").collect()
    archive = str(tmp_path / "graft_added.zip")
    _write_zip(archive, {"graft_added_module": "VALUE = 42\n"})
    spark.sparkContext.addPyFile(archive)
    df = spark.range(0, 4, numPartitions=4).mapInPandas(value, "v long")
    assert [r.v for r in df.collect()] == [42, 42, 42, 42]


def test_workers_import_checkout_from_foreign_cwd(tmp_path, sf_dir):
    """Workers import the package with ``PYTHONPATH`` unset and cwd elsewhere."""
    script = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from bigdata_pipelines_aws_glue_spark import registry\n"
        "from bigdata_pipelines_aws_glue_spark.session import get_spark\n"
        "spark = get_spark('daemon-cwd', shuffle_partitions=2)\n"
        "q = registry.queries()['multimodal_audio_adpcm']\n"
        f"print('ROWS', len(q(spark, {sf_dir!r}).collect()))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env |= {"SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "ROWS 500" in out.stdout.splitlines(), out.stderr[-4000:]
