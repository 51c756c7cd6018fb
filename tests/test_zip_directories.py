"""The kernel loop's zipimporter hook: ``importlib.invalidate_caches()``
(which a reused PySpark worker calls before every task) must not re-read
an unchanged archive, and must still re-read one that changed."""

import importlib
import sys
import zipfile
import zipimport

from xrenner_spark.pipeline import _reuse_zip_directories


def test_invalidate_caches_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")

    def write(modules):
        with zipfile.ZipFile(archive, "w") as z:
            for name, source in modules.items():
                z.writestr(name + ".py", source)

    write({"zipprobe_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    # undo the hook, the importer and the probe modules after the test
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    for name in ("zipprobe_a", "zipprobe_b"):
        monkeypatch.setitem(sys.modules, name, None)
        del sys.modules[name]

    import zipprobe_a
    assert zipprobe_a.VALUE == 1
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)

    _reuse_zip_directories()
    hook = zipimport.zipimporter.invalidate_caches
    _reuse_zip_directories()  # a second install changes nothing
    assert zipimport.zipimporter.invalidate_caches is hook

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or read_directory(path))

    importlib.invalidate_caches()    # first call after install: one read
    assert reads.count(archive) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 1  # unchanged: not read again

    write({"zipprobe_a": "VALUE = 2\n", "zipprobe_b": "VALUE = 3\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 2  # changed: read once more
    import zipprobe_b
    assert zipprobe_b.VALUE == 3
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
