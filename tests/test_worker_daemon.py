"""Python workers run off Spark's archives and find the package by name.

``session.get_spark`` starts every Python daemon from
``worker_daemon``, which drops ``pyspark.zip``, the py4j zip and the
spark-core jar from the worker's ``sys.path`` so PySpark's per-task
``importlib.invalidate_caches()`` has no archive to re-read, and falls
back to the stock daemon when pyspark does not import cleanly without
them. The fallback tests run the daemon module as Spark does
(``python -m``) against fake archives, without a JVM.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import zipfile

import pyspark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = "market_pulse_data_pipeline_spark.worker_daemon"


def _python(args, cwd, pythonpath=None, timeout=120, **env):
    base = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    if pythonpath is not None:
        base["PYTHONPATH"] = os.pathsep.join(pythonpath)
    return subprocess.run(
        [sys.executable, *args], cwd=cwd, env={**base, **env},
        capture_output=True, text=True, timeout=timeout,
    )


def test_package_init_imports_no_pyspark(tmp_path):
    # ``python -m`` imports the package before the daemon cleans the
    # path, so a pyspark import there would load the archive copy
    out = _python(
        ["-c", "import sys, market_pulse_data_pipeline_spark; "
               "print(sorted(m for m in sys.modules "
               "if m.split('.')[0] in ('pyspark', 'py4j')))"],
        cwd=tmp_path, pythonpath=[ROOT],
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "[]"


def test_worker_path_holds_no_archive(spark):
    def probe(_):
        import sys  # noqa: PLC0415

        import pyspark  # noqa: PLC0415

        yield sys.path, pyspark.__file__, pyspark.__version__

    path, where, version = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()[0]
    )
    assert [p for p in path if p.endswith((".zip", ".jar"))] == []
    assert where == pyspark.__file__  # the driver's unzipped install
    assert version == pyspark.__version__


def _fake_archive(tmp_path, version):
    """A pyspark archive whose daemon reports that it was chosen and
    the path it was chosen with, instead of serving workers."""
    zpath = str(tmp_path / "pyspark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("pyspark/__init__.py", f"__version__ = {version!r}\n")
        z.writestr("pyspark/version.py", f"__version__: str = {version!r}\n")
        z.writestr("pyspark/daemon.py", textwrap.dedent("""
            import json, sys
            def manager():
                print(json.dumps([__file__, sys.path]))
        """))
    return zpath


def _run_daemon(tmp_path, pythonpath):
    out = _python(["-m", DAEMON], cwd=tmp_path, pythonpath=pythonpath)
    assert out.returncode == 0, out.stderr
    where, path = json.loads(out.stdout)
    return where, path, out.stderr.strip().splitlines()


def test_daemon_falls_back_on_a_version_mismatch(tmp_path):
    zpath = _fake_archive(tmp_path, "0.0.0")
    where, path, err = _run_daemon(tmp_path, [zpath, ROOT])
    assert where == os.path.join(zpath, "pyspark", "daemon.py")
    assert zpath in path
    assert len(err) == 1 and err[0].startswith("worker_daemon:")
    assert "0.0.0" in err[0] and pyspark.__version__ in err[0]


def test_daemon_falls_back_when_pyspark_fails_to_import(tmp_path):
    zpath = _fake_archive(tmp_path, pyspark.__version__)
    broken = tmp_path / "broken" / "pyspark"
    broken.mkdir(parents=True)
    (broken / "__init__.py").write_text("raise ImportError('broken install')\n")
    where, path, err = _run_daemon(
        tmp_path, [zpath, str(broken.parent), ROOT]
    )
    assert where == os.path.join(zpath, "pyspark", "daemon.py")
    assert path.index(zpath) < path.index(str(broken.parent))
    assert len(err) == 1 and "broken install" in err[0]


def test_runs_from_any_working_directory(tmp_path):
    # no PYTHONPATH: the workers must find the package through the
    # executor path get_spark sets, because the k-means assignment UDF
    # refers to a package function by name
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from market_pulse_data_pipeline_spark.functions.clustering import (
            kmeans_snapped,
        )
        from market_pulse_data_pipeline_spark.session import get_spark
        spark = get_spark(app_name="mp-any-cwd", shuffle_partitions=1)
        emb = spark.createDataFrame(
            [(i, [float(i % 3), float(-i)]) for i in range(6)],
            "vec_id long, embedding array<double>",
        )
        rows = kmeans_snapped(emb, k=2, iters=1).collect()
        print(len(rows))
        spark.stop()
    """)
    out = _python(
        ["-c", script], cwd=tmp_path, timeout=300,
        SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEMORY="1g",
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ModuleNotFoundError" not in out.stderr
    assert out.stdout.strip().splitlines()[-1] == "6"


def test_workers_start_with_pandas_and_pyarrow(tmp_path):
    # the daemon imports both before it forks, so a fresh session's
    # first task, a plain RDD map that uses neither, already holds them
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from market_pulse_data_pipeline_spark.session import get_spark
        spark = get_spark(app_name="mp-preload", shuffle_partitions=1)

        def loaded(_):
            import sys
            return [m for m in ("pandas", "pyarrow") if m in sys.modules]

        print(spark.sparkContext.parallelize([0], 1).map(loaded).collect()[0])
        spark.stop()
    """)
    out = _python(
        ["-c", script], cwd=tmp_path, timeout=300,
        SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEMORY="1g",
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "['pandas', 'pyarrow']"
