"""The Python worker daemon (valentinus_spark/_daemon.py): tasks run under
the replaced ``zipimporter.invalidate_caches``, which re-reads an archive's
directory only when the archive changed on disk, and files shipped after
the session started are still importable."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from valentinus_spark import _daemon

needs_eager_zipimport = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="this interpreter's zipimporter.invalidate_caches is already lazy",
)


@needs_eager_zipimport
def test_python_tasks_run_under_the_replaced_invalidate_caches(spark):
    def probe(_):
        import zipimport

        from valentinus_spark import _daemon

        zips = [p for p in sys.path if os.path.basename(p) == "pyspark.zip"]
        yield (
            zipimport.zipimporter.invalidate_caches is _daemon._invalidate_if_changed,
            all(p in _daemon._stamps for p in zips),
        )

    assert spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect() == [(True, True)]


def test_py_file_added_after_session_start_is_importable(spark, tmp_path):
    sc = spark.sparkContext
    sc.parallelize([0], 1).count()  # the workers have run tasks before the archive exists
    archive = tmp_path / "vs_late_dep.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("vs_late_dep.py", "VALUE = 41\n")
    sc.addPyFile(str(archive))

    def use(_):
        import vs_late_dep

        yield vs_late_dep.VALUE + 1

    assert sc.parallelize([0], 1).mapPartitions(use).collect() == [42]


def _write_archive(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name + ".py", src)


@needs_eager_zipimport
def test_archive_is_reread_only_when_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "vs_stamped.zip")
    _write_archive(archive, {"vs_zip_first": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for mod in ("vs_zip_first", "vs_zip_second"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    rereads = []
    original = _daemon._original_invalidate

    def counting(self):
        rereads.append(self.archive)
        original(self)

    monkeypatch.setattr(_daemon, "_original_invalidate", counting)
    monkeypatch.setattr(_daemon, "_stamps", {})
    # undone after the test: the interpreter's own method comes back
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)

    assert importlib.import_module("vs_zip_first").X == 1  # reads the directory
    assert _daemon.install()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert rereads.count(archive) == 0  # unchanged since it was read

    # rewritten in place with one more module: new size, new mtime
    mtime = os.stat(archive).st_mtime_ns
    _write_archive(archive, {"vs_zip_first": "X = 1\n", "vs_zip_second": "Y = 2\n"})
    os.utime(archive, ns=(mtime + 10**9, mtime + 10**9))
    importlib.invalidate_caches()
    assert rereads.count(archive) == 1
    assert importlib.import_module("vs_zip_second").Y == 2
    importlib.invalidate_caches()
    assert rereads.count(archive) == 1


def test_python_workers_connect_over_a_short_unix_socket(spark):
    """A local session's workers connect over a Unix socket in a private
    directory whose socket paths fit the 108-byte address limit."""
    assert spark.conf.get("spark.python.unix.domain.socket.enabled") == "true"
    sock_dir = spark.conf.get("spark.python.unix.domain.socket.dir")
    assert os.path.isdir(sock_dir)
    assert spark.sparkContext.parallelize(range(4), 2).map(lambda x: x * x).sum() == 14
    socks = [f for f in os.listdir(sock_dir) if f.endswith(".sock")]
    assert socks
    assert all(len(os.path.join(sock_dir, f)) < 108 for f in socks)


def test_socket_dir_is_removed_when_the_session_stops(tmp_path):
    from valentinus_spark.session import _remove_on_stop

    class Session:
        stopped = False

        def stop(self):
            self.stopped = True

    sock_dir = tmp_path / "vs-sock"
    sock_dir.mkdir()
    (sock_dir / ".left.sock").touch()
    session = Session()
    _remove_on_stop(session, str(sock_dir))
    assert sock_dir.exists()
    session.stop()
    assert session.stopped
    assert not sock_dir.exists()
