"""Python worker daemon: ``pyspark.daemon`` on the installed pyspark.

Spark starts the daemon with ``$SPARK_HOME/python/lib/pyspark.zip``,
``py4j-*-src.zip`` and the spark-core jar at the front of ``sys.path``.
Every task then calls ``importlib.invalidate_caches()``, which makes
each cached zip importer re-read its archive's directory: ~0.25 s of
CPU a task. When a directory on the path provides py4j and the same
pyspark (byte-equal ``pyspark/version.py``), this module drops those
archives, and their importer-cache entries, before it hands off to
``pyspark.daemon``; otherwise it leaves the path alone. The forked
workers inherit the path.

The daemon also imports what every Arrow UDF's worker imports (the
pyspark worker, pandas, pyarrow) and freezes those objects
(``gc.freeze``) before it forks workers. Workers then share them
copy-on-write instead of importing them on their first task, and the
``gc.collect()`` that ``pyspark.daemon`` runs after every task of a
reused worker skips them: it took ~40 ms a task over the unfrozen
pandas/pyarrow/pyspark objects, and takes under 1 ms frozen.

``session.get_spark`` selects this module through
``spark.python.daemon.module``.
"""

from __future__ import annotations

import contextlib
import fnmatch
import gc
import importlib
import os
import runpy
import sys
import zipfile
import zipimport

VERSION_FILE = "pyspark/version.py"
PRELOAD = ("pyspark.worker", "pandas", "pyarrow")


def is_spark_archive(entry: str) -> bool:
    """An archive Spark puts on the workers' path: pyspark.zip, the py4j
    source zip or a Spark jar."""
    name = os.path.basename(entry)
    return os.path.isfile(entry) and (
        name == "pyspark.zip" or fnmatch.fnmatch(name, "py4j-*-src.zip") or name.endswith(".jar"))


def _archive_version(entry: str) -> bytes | None:
    try:
        with zipfile.ZipFile(entry) as zf:
            return zf.read(VERSION_FILE)
    except (KeyError, OSError, zipfile.BadZipFile):
        return None


def _first_dir_with(dirs: list[str], rel: str) -> str | None:
    return next((d for d in dirs if os.path.isfile(os.path.join(d, rel))), None)


def worker_path(path: list[str]) -> list[str]:
    """`path` without Spark's archives when a directory on it provides
    py4j and the same pyspark as the archives; else `path` unchanged."""
    archives = [p for p in path if is_spark_archive(p)]
    dirs = [p for p in path if p not in archives and os.path.isdir(p or ".")]
    shipped = next((v for v in map(_archive_version, archives) if v is not None), None)
    installed = _first_dir_with(dirs, VERSION_FILE)
    if (shipped is None or installed is None
            or _first_dir_with(dirs, os.path.join("py4j", "__init__.py")) is None):
        return list(path)
    with open(os.path.join(installed, VERSION_FILE), "rb") as fh:
        if fh.read() != shipped:
            return list(path)
    return [p for p in path if p not in archives]


def use_installed_pyspark() -> None:
    """Apply `worker_path` to this process. A no-op once pyspark is
    imported: its modules would stay the archive's."""
    if "pyspark" in sys.modules:
        return
    kept = worker_path(sys.path)
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del sys.path_importer_cache[key]
    for d in dropped:
        getattr(zipimport, "_zip_directory_cache", {}).pop(d, None)


def preload_and_freeze() -> None:
    """Import PRELOAD and move every object alive now out of the
    collector's reach, so forked workers neither import nor scan them."""
    for name in PRELOAD:
        with contextlib.suppress(ImportError):
            importlib.import_module(name)
    gc.collect()
    gc.freeze()


if __name__ == "__main__":
    use_installed_pyspark()
    preload_and_freeze()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
