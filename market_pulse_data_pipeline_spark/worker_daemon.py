"""Python worker daemon that imports PySpark from its unzipped install.

Spark starts every executor's Python daemon with ``pyspark.zip``, the
py4j zip and the spark-core jar ahead of site-packages on ``sys.path``.
Each worker task then calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and every zipimporter on
the path re-reads its whole archive directory: 0.29 s of CPU per task
before the task reads a row, against 0.06 s without the archives
(SCALING.md). ``session.get_spark`` selects this module
through ``spark.python.daemon.module``. It drops the archives from the
path, checks that pyspark imports without them at the archive's
version, and runs the stock ``pyspark.daemon.manager()``, whose forked
workers inherit the clean path. It also imports pandas and pyarrow
before ``manager()`` forks, which the stock daemon leaves to each
worker's first Arrow task: ~0.4 s of CPU per worker (SCALING.md).

When pyspark fails to import without the archives, or imports another
version than the archive holds, the path is restored, one line goes to
stderr and the daemon runs from the archives exactly as Spark ships it.
Nothing here may import pyspark before the path is clean, and neither
may the package's ``__init__``, which ``python -m`` imports first.
"""

from __future__ import annotations

import re
import sys
import zipfile

_ARCHIVES = (".zip", ".jar")
_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""")


def _archive_version(archives: list[str]) -> str | None:
    """``pyspark.__version__`` as the first archive holding pyspark
    declares it, read without importing; None when none holds it."""
    for path in archives:
        try:
            with zipfile.ZipFile(path) as z:
                src = z.read("pyspark/version.py").decode()
        except (OSError, KeyError, zipfile.BadZipFile):
            continue
        m = _VERSION.search(src)
        if m:
            return m.group(1)
    return None


def select() -> bool:
    """Take the archives off ``sys.path`` and the importer cache, so
    ``pyspark.daemon`` resolves to the unzipped install, when pyspark
    imports there at the archive's version, and return True. Otherwise
    put the path and the cache back, forget what the check imported,
    write one line to stderr and return False: ``pyspark.daemon`` then
    resolves to the archive copy, the stock daemon."""
    path, cache = list(sys.path), dict(sys.path_importer_cache)
    archives = [p for p in path if p.endswith(_ARCHIVES)]
    sys.path[:] = [p for p in path if p not in archives]
    for entry in archives:
        sys.path_importer_cache.pop(entry, None)
    want = _archive_version(archives)
    try:
        import pyspark  # noqa: PLC0415 — only once the path is clean

        got = pyspark.__version__
        why = f"pyspark {got} off the archives, {want} in them"
    except Exception as exc:  # noqa: BLE001 — any failure means fall back
        got, why = None, f"pyspark does not import off the archives ({exc!r})"
    if got is not None and want in (None, got):
        return True
    sys.path[:] = path
    sys.path_importer_cache.clear()
    sys.path_importer_cache.update(cache)
    for name in [m for m in sys.modules if m.split(".")[0] in ("pyspark", "py4j")]:
        del sys.modules[name]
    print(f"worker_daemon: {why}; running the stock daemon", file=sys.stderr)
    return False


def preload() -> None:
    """Import pandas and pyarrow for the workers ``manager()`` forks.
    When that fails, write one line to stderr and go on: the daemon
    still serves tasks that need neither."""
    try:
        import pandas  # noqa: F401, PLC0415
        import pyarrow  # noqa: F401, PLC0415
    except Exception as exc:  # noqa: BLE001 — any failure leaves it to the workers
        print(f"worker_daemon: no preload ({exc!r})", file=sys.stderr)


def main() -> None:
    if select():
        preload()
    from pyspark import daemon  # noqa: PLC0415

    daemon.manager()


if __name__ == "__main__":
    main()
