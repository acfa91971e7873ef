"""Per-process setup: the worker daemon's zip-directory stamps and import
hygiene of the command-line probes.

``daemon_prewarm.invalidate_if_changed`` replaces the per-task re-read of
every zip archive's central directory (``importlib.invalidate_caches()`` in
each task's ``setup_spark_files``) with a stat.  The subprocess test keeps
the invalidation contract honest outside Spark; the session test checks
that the workers of a ``get_spark`` session actually run it.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_ZIP_SCRIPT = textwrap.dedent(
    """
    import importlib, os, sys, zipfile, zipimport
    from pulseboard_spark import daemon_prewarm

    def write(path, mods):
        with zipfile.ZipFile(path + ".tmp", "w") as z:
            for name, src in mods.items():
                z.writestr(name + ".py", src)
        os.replace(path + ".tmp", path)

    tmp = sys.argv[1]
    zpath, zpath2 = os.path.join(tmp, "a.zip"), os.path.join(tmp, "b.zip")
    write(zpath, {"zmod_a": "X = 1"})
    sys.path.insert(0, zpath)
    import zmod_a  # the path hook builds zpath's importer here
    daemon_prewarm.install_zip_stamps()

    reads = []
    stock = zipimport._read_directory
    zipimport._read_directory = lambda p: reads.append(p) or stock(p)

    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [], reads  # unchanged archive: a stat, no re-read

    write(zpath, {"zmod_a": "X = 1", "zmod_b": "Y = 2"})
    importlib.invalidate_caches()
    assert reads == [zpath], reads  # rewritten archive: re-read once
    import zmod_b
    assert zmod_b.Y == 2
    importlib.invalidate_caches()
    assert reads == [zpath], reads

    write(zpath2, {"zmod_c": "Z = 3"})  # a new path gets a new importer
    sys.path.insert(0, zpath2)
    importlib.invalidate_caches()
    import zmod_c
    assert zmod_c.Z == 3
    print("ok")
    """
)


def test_zip_directory_reread_only_when_archive_changes(tmp_path):
    env = dict(os.environ, PYTHONPATH=ROOT)
    res = subprocess.run([sys.executable, "-c", _ZIP_SCRIPT, str(tmp_path)],
                         capture_output=True, text=True, env=env, timeout=120)
    assert res.returncode == 0 and res.stdout.strip() == "ok", res.stderr


def test_session_workers_run_the_daemon_zip_invalidate(spark):
    def zip_invalidate(batches):  # nested: pickled by value for the worker
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        fn = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({"fn": [fn.__name__], "file": [fn.__code__.co_filename]})

    rows = (
        spark.range(0, 2, numPartitions=2)
        .mapInPandas(zip_invalidate, "fn string, file string")
        .collect()
    )
    assert len(rows) == 2
    for r in rows:
        assert r.fn == "invalidate_if_changed"
        assert r.file.endswith(os.path.join("pulseboard_spark", "daemon_prewarm.py"))


def test_oracle_fuzz_import_has_no_side_effects():
    """Importing the probe from a script whose first argument is a path
    neither parses that argument nor changes the process environment."""
    code = textwrap.dedent(
        """
        import importlib.util, os, sys
        before = dict(os.environ)
        spec = importlib.util.spec_from_file_location("oracle_fuzz", sys.argv[2])
        spec.loader.exec_module(importlib.util.module_from_spec(spec))
        assert dict(os.environ) == before, set(os.environ.items()) ^ set(before.items())
        print("ok")
        """
    )
    probe = os.path.join(ROOT, "tools", "probes", "oracle_fuzz.py")
    res = subprocess.run([sys.executable, "-c", code, "/some/data/dir", probe],
                         capture_output=True, text=True, timeout=120)
    assert res.returncode == 0 and res.stdout.strip() == "ok", res.stderr
