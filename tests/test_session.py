"""Session factory: engine worker daemon and machine-derived defaults."""

import json
import os
import subprocess
import sys
import zipfile

from georasters_spark import session
from georasters_spark.worker_daemon import is_spark_archive, worker_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip(path, files: dict):
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in files.items():
            zf.writestr(name, data)
    return str(path)


def _shipped_archives():
    from pyspark.find_spark_home import _find_spark_home

    lib = os.path.join(_find_spark_home(), "python", "lib")
    return [os.path.join(lib, f) for f in sorted(os.listdir(lib))
            if is_spark_archive(os.path.join(lib, f))] if os.path.isdir(lib) else []


def test_workers_drop_spark_archives(spark):
    def archives_on_path(batches):
        import sys

        import pandas as pd

        from georasters_spark.worker_daemon import is_spark_archive

        for _ in batches:
            pass
        yield pd.DataFrame({"entry": [p for p in sys.path if is_spark_archive(p)]},
                           dtype=object)

    entries = [r.entry for r in spark.range(1, numPartitions=1)
               .mapInPandas(archives_on_path, "entry string").collect()]
    shipped = _shipped_archives()
    installed_matches = bool(shipped) and not set(shipped) & set(worker_path(shipped + sys.path))
    if installed_matches:
        assert entries == []
    else:
        assert entries


def test_worker_path_keeps_archives_unless_installed_pyspark_matches(tmp_path):
    lib = tmp_path / "lib"
    lib.mkdir()
    archives = [
        _zip(lib / "pyspark.zip", {"pyspark/version.py": "__version__ = '4.1.2'\n"}),
        _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        _zip(lib / "spark-core_2.13-4.1.2.jar", {"META-INF/MANIFEST.MF": ""}),
    ]

    def site(name, version="4.1.2", py4j=True, pyspark=True):
        d = tmp_path / name
        if pyspark:
            (d / "pyspark").mkdir(parents=True)
            (d / "pyspark" / "version.py").write_text(f"__version__ = '{version}'\n")
        if py4j:
            (d / "py4j").mkdir(parents=True)
            (d / "py4j" / "__init__.py").write_text("")
        d.mkdir(exist_ok=True)
        return str(d)

    rest = [str(tmp_path / "python311.zip"), str(tmp_path)]  # missing stdlib zip stays
    good = archives + rest + [site("good")]
    assert worker_path(good) == rest + [good[-1]]
    for kept in (
        archives + rest,                                    # no directory provides pyspark
        archives + rest + [site("newer", version="4.2.0")],  # versions differ
        archives + rest + [site("no_py4j", py4j=False)],    # py4j missing
    ):
        assert worker_path(kept) == kept


def test_daemon_override_skipped_when_loaded_from_zip(tmp_path):
    conf = session.engine_daemon_conf()
    assert conf["spark.python.daemon.module"] == "georasters_spark.worker_daemon"
    assert conf["spark.executorEnv.PYTHONPATH"] == REPO

    pkg = tmp_path / "pkg.zip"
    with zipfile.ZipFile(pkg, "w") as zf:
        for d, _, files in os.walk(os.path.join(REPO, "georasters_spark")):
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(d, f)
                    zf.write(p, os.path.relpath(p, REPO))
    env = dict(os.environ, PYTHONPATH=str(pkg))
    out = subprocess.run(
        [sys.executable, "-c",
         "import json; from georasters_spark import session as s; "
         "print(json.dumps([s.__file__, s.engine_daemon_conf()]))"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300, check=True)
    loaded_from, zip_conf = json.loads(out.stdout.strip().splitlines()[-1])
    assert loaded_from.startswith(str(pkg))
    assert zip_conf == {}


def test_default_driver_heap_fits_the_machine():
    with open("/proc/meminfo") as fh:
        kib = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    heap = session.default_driver_memory()
    assert heap.endswith("m") and 1024 <= int(heap[:-1]) <= max(1024, kib // 1024 // 2)
