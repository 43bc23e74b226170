"""The Python worker bootstrap (``dampr_spark/_daemon.py``): workers of a
``get_spark`` session load pyspark from its directory install, not from
Spark's archives, and fall back to Spark's stock path whenever that swap
would not load the same pyspark."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from dampr_spark import _daemon
from dampr_spark._daemon import worker_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
VERSION = b'__version__: str = "9.9.9"\n'


def _zip(path, files: dict[str, bytes]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in files.items():
            zf.writestr(name, data)
    return str(path)


def _install(site, pyspark_version: bytes | None = VERSION, py4j: bool = True) -> str:
    if pyspark_version is not None:
        (site / "pyspark").mkdir(parents=True)
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_bytes(pyspark_version)
    if py4j:
        (site / "py4j").mkdir(parents=True)
        (site / "py4j" / "__init__.py").write_text("")
    return str(site)


@pytest.fixture
def spark_archives(tmp_path):
    """Spark's worker path entries: the pyspark and py4j zips and the
    spark-core jar, laid out as ``$SPARK_HOME`` does."""
    lib = tmp_path / "spark" / "python" / "lib"
    jars = tmp_path / "spark" / "jars"
    lib.mkdir(parents=True)
    jars.mkdir(parents=True)
    return [
        _zip(lib / "pyspark.zip", {"pyspark/__init__.py": b"", "pyspark/version.py": VERSION}),
        _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": b""}),
        _zip(jars / "spark-core_2.13-9.9.9.jar", {"org/apache/spark/A.class": b""}),
    ]


def test_worker_path_drops_spark_archives_for_same_version_install(tmp_path, spark_archives):
    site = _install(tmp_path / "site")
    user = _zip(tmp_path / "mylib.zip", {"mylib/__init__.py": b""})
    path = [str(tmp_path), *spark_archives, user, site]
    assert worker_path(path) == [str(tmp_path), user, site]


def test_worker_path_keeps_archives_when_versions_differ(tmp_path, spark_archives):
    site = _install(tmp_path / "site", pyspark_version=b'__version__: str = "9.9.8"\n')
    path = [str(tmp_path), *spark_archives, site]
    assert worker_path(path) == path


def test_worker_path_keeps_archives_without_directory_install(tmp_path, spark_archives):
    path = [str(tmp_path), *spark_archives, _install(tmp_path / "site", pyspark_version=None)]
    assert worker_path(path) == path
    # pyspark installed, but py4j only in its zip.
    path = [*spark_archives, _install(tmp_path / "site2", py4j=False)]
    assert worker_path(path) == path


def test_worker_path_keeps_a_users_own_pyspark_zip(tmp_path):
    # A user's archive that carries pyspark is not one of Spark's: keep it.
    user = _zip(tmp_path / "deps.zip", {"pyspark/__init__.py": b"", "pyspark/version.py": VERSION})
    path = [user, _install(tmp_path / "site")]
    assert worker_path(path) == path


def test_bootstrap_forgets_cached_importers_of_dropped_archives(tmp_path, spark_archives, monkeypatch):
    site = _install(tmp_path / "site")
    pyspark_zip = spark_archives[0]
    cache = {
        pyspark_zip: zipimport.zipimporter(pyspark_zip),
        os.path.join(pyspark_zip, "pyspark"): zipimport.zipimporter(os.path.join(pyspark_zip, "pyspark")),
        site: None,
    }
    monkeypatch.setattr(sys, "path", [*spark_archives, site])
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    _daemon._bootstrap()
    assert sys.path == [site]
    assert list(sys.path_importer_cache) == [site]


def test_get_spark_workers_import_pyspark_from_directory(spark):
    assert spark.conf.get("spark.python.daemon.module") == "dampr_spark._daemon"

    def probe(_):
        import sys
        import zipimport

        import pyspark

        zipped = [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]
        return [(pyspark.__file__, zipped)]

    (pyspark_file, zipped), = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert zipped == []
    assert os.path.isfile(pyspark_file), pyspark_file


def test_session_outside_the_repo_runs_python_tasks(tmp_path):
    """The daemon module must be importable by workers whatever the working
    directory; a user's ``addPyFile`` archive still imports."""
    user_zip = _zip(tmp_path / "userlib.zip", {"userlib_probe.py": b"def twice(x):\n    return 2 * x\n"})
    script = tmp_path / "job.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import json, sys
            sys.path.insert(0, {REPO!r})
            from dampr_spark.session import get_spark

            spark = get_spark(app_name="bootstrap-cwd", cpus=1)
            sc = spark.sparkContext

            def probe(it):
                import pyspark
                return [(sum(it), pyspark.__file__)]

            total, pyspark_file = sc.parallelize(range(4), 1).mapPartitions(probe).collect()[0]
            sc.addPyFile({user_zip!r})

            def twice(x):
                import userlib_probe
                return userlib_probe.twice(x)

            doubled = sc.parallelize(range(4), 1).map(twice).sum()
            spark.stop()
            print(json.dumps({{"total": total, "pyspark": pyspark_file, "doubled": doubled}}))
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_DRIVER_MEM="1g", SPARK_LOCAL_DIRS=str(tmp_path / "local"), TMPDIR=str(tmp_path))
    (tmp_path / "local").mkdir()
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["total"] == 6
    assert got["doubled"] == 12
    assert os.path.isfile(got["pyspark"]), got["pyspark"]
