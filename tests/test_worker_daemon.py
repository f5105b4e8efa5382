"""Python worker daemon (ingest_pipeline_spark/worker_daemon.py): lazy zip
invalidation, the workers that fork from it, and the package import on
workers from any cwd."""

import importlib
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pytest

from ingest_pipeline_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_eager = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="this interpreter already invalidates zip directories lazily",
)


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


@pytest.fixture
def reads(monkeypatch, tmp_path):
    """Install the patch for one test and yield the archives that
    `_read_directory` reads; then undo the patch and the test's imports."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    assert worker_daemon._install()
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield seen
    for name in [m for m in sys.modules if m.startswith("wd_")]:
        del sys.modules[name]
    for path in [p for p in sys.path_importer_cache if p.startswith(str(tmp_path))]:
        del sys.path_importer_cache[path]


@needs_eager
def test_unchanged_zip_is_not_reread(tmp_path, reads):
    arc = str(tmp_path / "a.zip")
    _write_zip(arc, {"wd_pkg/__init__.py": "", "wd_pkg/m.py": "M = 1\n"})
    root = zipimport.zipimporter(arc)
    sub = zipimport.zipimporter(os.path.join(arc, "wd_pkg"))
    root.invalidate_caches()  # no stamp yet: one read, stamped
    n = len(reads)
    for _ in range(3):
        root.invalidate_caches()
        sub.invalidate_caches()
    assert len(reads) == n
    assert sub._files is zipimport._zip_directory_cache[arc]


@needs_eager
def test_rewritten_zip_is_reread_for_root_and_subpackage_importers(
    tmp_path, reads, monkeypatch
):
    arc = str(tmp_path / "lib.zip")
    _write_zip(arc, {"wd_zpkg/__init__.py": "", "wd_zpkg/a.py": "A = 1\n"})
    monkeypatch.syspath_prepend(arc)
    assert importlib.import_module("wd_zpkg.a").A == 1
    importlib.invalidate_caches()  # stamps the archive
    _write_zip(
        arc,
        {
            "wd_zpkg/__init__.py": "",
            "wd_zpkg/a.py": "A = 1\n",
            "wd_zpkg/b.py": "B = 2\n",
            "wd_ztop.py": "T = 3\n",
        },
    )
    n = len(reads)
    importlib.invalidate_caches()
    assert reads[n:] == [arc]  # one re-read, shared by both importers
    assert importlib.import_module("wd_zpkg.b").B == 2  # sub-package importer
    assert importlib.import_module("wd_ztop").T == 3  # root importer


@needs_eager
def test_filefinder_invalidation_still_works(tmp_path, reads, monkeypatch):
    d = tmp_path / "plain"
    d.mkdir()
    (d / "wd_first.py").write_text("")
    monkeypatch.syspath_prepend(str(d))
    importlib.import_module("wd_first")
    (d / "wd_late.py").write_text("L = 4\n")
    importlib.invalidate_caches()
    assert importlib.import_module("wd_late").L == 4


def test_lazy_interpreter_is_left_alone(monkeypatch):
    orig = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(
        zipimport.zipimporter, "_get_files", lambda self: {}, raising=False
    )
    assert worker_daemon._install() is False
    assert zipimport.zipimporter.invalidate_caches is orig


@needs_eager
def test_workers_fork_from_the_shim(spark):
    def shim_name(_):
        import sys
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        return sys.modules[fn.__module__].__spec__.name

    got = spark.sparkContext.parallelize([0], 1).map(shim_name).collect()
    assert got == ["ingest_pipeline_spark.worker_daemon"]


def test_addpyfile_after_python_stage_is_importable(spark, tmp_path):
    sc = spark.sparkContext
    rdd = sc.parallelize([0], 1)
    assert rdd.map(lambda x: x).collect() == [0]  # a warm worker exists
    tag = uuid.uuid4().hex[:8]
    zipped, plain = f"wd_zipped_{tag}", f"wd_plain_{tag}"
    _write_zip(tmp_path / f"{zipped}.zip", {f"{zipped}.py": "V = 7\n"})
    (tmp_path / f"{plain}.py").write_text("V = 8\n")
    sc.addPyFile(str(tmp_path / f"{zipped}.zip"))
    sc.addPyFile(str(tmp_path / f"{plain}.py"))
    got = rdd.map(lambda _: (__import__(zipped).V, __import__(plain).V)).collect()
    assert got == [(7, 8)]


_ANY_CWD = """
import sys
sys.path.insert(0, {repo!r})
from ingest_pipeline_spark import queries
from ingest_pipeline_spark.session import get_spark
spark = get_spark("any_cwd")
print("rdd", spark.sparkContext.parallelize([1, 2], 2).map(lambda x: x * 10).collect())
print("topk", len(queries.queries()["similarity_topk"](spark, {sf_dir!r}).collect()))
spark.stop()
"""


def test_engine_imports_on_workers_from_any_cwd(tmp_path, sf_dir):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _ANY_CWD.format(repo=REPO, sf_dir=sf_dir)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "rdd [10, 20]" in out.stdout
    topk = int(out.stdout.split("topk ")[1].split()[0])
    assert topk > 0
