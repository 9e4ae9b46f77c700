"""kg.daemon: change-checked zipimport invalidation in Python workers.

The shim test runs in a subprocess, so this process keeps the stock
``zipimporter`` class.
"""

import os
import subprocess
import sys
import textwrap
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SHIM_SCRIPT = textwrap.dedent(
    """
    import importlib, sys, zipfile, zipimport

    archive = sys.argv[1]
    stock = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 12):
        from kg import daemon
        daemon.install()
        assert zipimport.zipimporter.invalidate_caches is stock
        print("ok 3.12+")
        sys.exit(0)

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    zipimport._read_directory = counting
    sys.path.insert(0, archive)
    import a
    assert a.X == 1

    # on 3.11 the stock method re-reads on every invalidation
    n = reads.count(archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    stock_reads = reads.count(archive) - n

    # a 3.12+ interpreter gets the class as it is
    real_version = sys.version_info
    sys.version_info = (3, 12, 0)
    from kg import daemon
    daemon.install()
    assert zipimport.zipimporter.invalidate_caches is stock
    sys.version_info = real_version

    daemon.install()
    daemon.install()  # idempotent: one wrapper, not two
    patched = zipimport.zipimporter.invalidate_caches
    assert patched is not stock and patched.__module__ == "kg.daemon"

    n0 = reads.count(archive)
    importlib.invalidate_caches()  # first call per importer re-reads
    first = reads.count(archive) - n0
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    unchanged = reads.count(archive) - n0 - first

    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("b.py", "Y = 2\\n")
    importlib.invalidate_caches()
    changed = reads.count(archive) - n0 - first - unchanged
    import b
    assert b.Y == 2
    print(stock_reads, first, unchanged, changed)
    """
)


def test_shim_rereads_only_changed_archives(tmp_path):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("a.py", "X = 1\n")
    env = dict(os.environ, PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", SHIM_SCRIPT, archive],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    if sys.version_info >= (3, 12):
        assert out.stdout.split() == ["ok", "3.12+"]
        return
    stock_reads, first, unchanged, changed = map(int, out.stdout.split())
    assert stock_reads == 2
    assert first == 1
    assert unchanged == 0
    assert changed == 1


def test_session_workers_use_kg_daemon(spark, tmp_path):
    sc = spark.sparkContext

    def invalidate_caches_module(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__module__

    want = "kg.daemon" if sys.version_info < (3, 12) else "zipimport"
    mods = sc.parallelize(range(4), 4).mapPartitions(invalidate_caches_module)
    assert set(mods.collect()) == {want}

    # a zip shipped after the workers are warm must still import
    archive = str(tmp_path / "late_shipped.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("kg_late_shipped_mod.py", "VALUE = 41\n")
    sc.addPyFile(archive)

    def use(_):
        import kg_late_shipped_mod

        yield kg_late_shipped_mod.VALUE + 1

    assert sc.parallelize(range(4), 4).mapPartitions(use).collect() == [42] * 4


PY_FILES_DRIVER = textwrap.dedent(
    """
    import sys

    sys.path.insert(0, sys.argv[1])  # what spark-submit --py-files does
    from kg.session import build_session

    def probe(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__module__

    spark = build_session(master="local[1]", shuffle_partitions=1)
    print(spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect())
    spark.stop()
    """
)


def test_daemon_launches_with_kg_only_in_py_files_zip(tmp_path):
    # main.py's deployment: kg reaches Python only through a zip on the
    # driver's sys.path, and the daemon launches before any task runs
    archive = str(tmp_path / "pipeline.zip")
    with zipfile.ZipFile(archive, "w") as z:
        for base, _, files in os.walk(os.path.join(ROOT, "kg")):
            for f in files:
                if f.endswith(".py"):
                    path = os.path.join(base, f)
                    z.write(path, os.path.relpath(path, ROOT))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["KG_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", PY_FILES_DRIVER, archive],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    want = "kg.daemon" if sys.version_info < (3, 12) else "zipimport"
    assert out.stdout.strip().splitlines()[-1] == repr([want])
