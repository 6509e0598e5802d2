"""Python worker boot (mypipe_spark.worker_daemon, set by get_spark).

Workers must import the installed pyspark, not Spark's pyspark.zip, so
pyspark's per-task ``importlib.invalidate_caches()`` has no archive to
re-read; the archives stay on the path when the installed copy cannot
stand in for them. The daemon runs as ``python -m
mypipe_spark.worker_daemon``, which imports the package first, so
``mypipe_spark/__init__.py`` must stay free of pyspark imports.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import zipfile

import pyarrow as pa

from mypipe_spark.worker_daemon import worker_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _in_archive(file: str) -> bool:
    return any(a in file for a in (".zip", ".jar"))


def test_workers_import_pyspark_outside_the_archives(spark):
    """An arrow_udf probe reads the worker's pyspark file, its
    zipimporters and the PYTHONPATH Spark gave it. Where the installed
    pyspark can stand in for pyspark.zip (pyspark and py4j import from
    outside the archives, at the zip's version) the worker's pyspark is
    outside any archive and no zipimporter exists; elsewhere the worker
    keeps importing from the zip."""
    import py4j
    import pyspark
    from pyspark.sql.functions import arrow_udf

    @arrow_udf("string")
    def probe(x: pa.Array) -> pa.Array:
        import os
        import sys
        import zipimport

        import pyspark

        zips = sorted(
            k for k, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)
        )
        out = json.dumps(
            {"file": pyspark.__file__, "zips": zips, "path": os.environ.get("PYTHONPATH", "")}
        )
        return pa.array([out] * len(x), pa.string())

    rows = spark.range(1).select(probe("id").alias("p")).collect()
    got = json.loads(rows[0]["p"])
    zip_path = next(
        (p for p in got["path"].split(os.pathsep) if os.path.basename(p) == "pyspark.zip"), None
    )
    if zip_path is None:  # no archive to drop
        assert not _in_archive(got["file"]), got["file"]
        return
    ns: dict = {}
    with zipfile.ZipFile(zip_path) as z:
        exec(z.read("pyspark/version.py"), ns)
    stands_in = pyspark.__version__ == ns["__version__"] and not any(
        _in_archive(m.__file__) for m in (pyspark, py4j)
    )
    if stands_in:
        assert not _in_archive(got["file"]), got["file"]
        assert got["zips"] == []
    else:
        assert got["file"].startswith(zip_path), got["file"]


def _tree(tmp_path, installed: str | None, with_py4j: bool = True) -> list[str]:
    """A Spark-style worker path: the working directory, pyspark.zip
    (version 4.1.2), the py4j zip and the spark-core jar, then a
    site-packages holding pyspark at ``installed`` (None: no pyspark)."""
    lib, jars, site, cwd = (tmp_path / d for d in ("lib", "jars", "site", "cwd"))
    for d in (lib, jars, site, cwd):
        d.mkdir()
    archives = {
        lib / "pyspark.zip": {
            "pyspark/__init__.py": "",
            "pyspark/version.py": "__version__: str = '4.1.2'\n",
        },
        lib / "py4j-0.10.9.9-src.zip": {"py4j/__init__.py": ""},
        jars / "spark-core_2.13-4.1.2.jar": {"META-INF/MANIFEST.MF": ""},
    }
    for archive, files in archives.items():
        with zipfile.ZipFile(archive, "w") as z:
            for name, text in files.items():
                z.writestr(name, text)
    if installed is not None:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_text(f"__version__: str = '{installed}'\n")
    if with_py4j:
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")
    return [str(cwd), *map(str, archives), str(site)]


def test_worker_path_drops_the_archives_for_the_same_installed_pyspark(tmp_path):
    path = _tree(tmp_path, installed="4.1.2")
    assert worker_path(path) == [path[0], path[-1]]


def test_worker_path_keeps_spark_path_when_pyspark_is_only_in_the_zip(tmp_path):
    path = _tree(tmp_path, installed=None)
    assert worker_path(path) == path


def test_worker_path_keeps_spark_path_when_py4j_is_only_in_the_zip(tmp_path):
    path = _tree(tmp_path, installed="4.1.2", with_py4j=False)
    assert worker_path(path) == path


def test_worker_path_keeps_spark_path_when_versions_differ(tmp_path):
    path = _tree(tmp_path, installed="4.1.1")
    assert worker_path(path) == path


def test_worker_path_leaves_a_path_without_archives_alone(tmp_path):
    path = _tree(tmp_path, installed="4.1.2")
    plain = [path[0], path[-1]]
    assert worker_path(plain) == plain


def test_package_and_daemon_import_no_pyspark():
    """``python -m mypipe_spark.worker_daemon`` imports both before it
    can choose the path pyspark is imported from."""
    code = (
        "import sys, mypipe_spark.worker_daemon; "
        "print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]"


def test_library_udf_runs_from_any_working_directory(tmp_path):
    """A driver that reaches the package through ``sys.path`` alone —
    another working directory, no PYTHONPATH — still runs the library's
    UDFs: get_spark hands the package's directory to the workers."""
    script = tmp_path / "drive.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from mypipe_spark.changelog import changelog_df
        from mypipe_spark.operators.decode import mutations_only
        from mypipe_spark.registry import in_memory_repo
        from mypipe_spark.session import get_spark
        from mypipe_spark.sinks.wire import encode_generic

        spark = get_spark("worker-boot", shuffle_partitions=2)
        muts = mutations_only(changelog_df(spark, num_transactions=4, rollback_prob=0.0))
        framed = encode_generic(muts, in_memory_repo(), codec="avro_ref")
        n = framed.where("value IS NOT NULL").count()
        assert n == muts.count() > 0, n
        print("OK rows", n)
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        PYSPARK_PYTHON=sys.executable, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g"
    )
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert out.stdout.strip().startswith("OK rows")
