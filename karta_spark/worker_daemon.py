"""PySpark worker daemon that starts without Spark's own zip archives.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the
``spark-core`` jar at the head of every Python worker's ``sys.path``.
Each task then calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and under CPython 3.11 every
zipimporter in ``sys.path_importer_cache`` re-reads its archive's central
directory: one per pyspark subpackage imported from the zip, two for the
15 MB jar, 0.18-0.37 s per task in all.  Workers importing pyspark from
the zip also compile it from source, since the zip holds no ``.pyc``.

When the same pyspark is installed as a plain directory, the archives add
nothing, so this module drops them from ``sys.path`` (and their keys from
``sys.path_importer_cache``) before anything imports pyspark, then runs
``pyspark.daemon`` as ``__main__``.  Spark starts it as
``python -m karta_spark.worker_daemon <worker module>`` when
``spark.python.daemon.module`` names it (``session.get_spark`` does so for
``local*`` masters).

An archive is dropped only if it is a file whose Python top-level packages
are a subset of ``{pyspark, py4j}``, ``pyspark`` and ``py4j`` both resolve
from directory entries of ``sys.path``, and the directory's
``pyspark/version.py`` is byte-equal to every archive's copy.  Otherwise
``sys.path`` is left as it is.

This module imports only the standard library: ``karta_spark/__init__``
must not import pyspark either, or the ``-m`` lookup would load it from
the zip before the prune.
"""

from __future__ import annotations

import os
import runpy
import sys
import zipfile

SPARK_PACKAGES = frozenset({"pyspark", "py4j"})
_SOURCE_SUFFIXES = (".py", ".pyc", ".so", ".pyd")
VERSION_FILE = "pyspark/version.py"


def _members(archive: str) -> set[str] | None:
    """Member names of *archive*, or None when it is not a readable zip."""
    try:
        with zipfile.ZipFile(archive) as z:
            return set(z.namelist())
    except (OSError, zipfile.BadZipFile):
        return None


def top_level_packages(members: set[str]) -> set[str]:
    """Python top-level package and module names among zip *members*."""
    tops = set()
    for name in members:
        if not name.endswith(_SOURCE_SUFFIXES):
            continue
        head, sep, _ = name.partition("/")
        tops.add(head if sep else head.split(".")[0])
    return tops


def _holds(entry: str, package: str, members: dict[str, set[str]]) -> bool:
    init = package + "/__init__.py"
    if entry in members:
        return init in members[entry]
    return os.path.isfile(os.path.join(entry or ".", init))


def _read(entry: str, name: str, members: dict[str, set[str]]) -> bytes | None:
    """Bytes of *name* under the sys.path *entry* (zip or directory), read
    as data; None when absent."""
    if entry in members:
        if name not in members[entry]:
            return None
        with zipfile.ZipFile(entry) as z:
            return z.read(name)
    try:
        with open(os.path.join(entry or ".", name), "rb") as f:
            return f.read()
    except OSError:
        return None


def prune_spark_archives(path: list[str], cache: dict) -> list[str]:
    """Drop Spark's pyspark/py4j archives from *path* (in place) and their
    keys from *cache* when a directory copy of the same pyspark follows
    them; return the dropped entries (empty when nothing changed)."""
    members = {}
    for entry in path:
        if entry and entry not in members and os.path.isfile(entry):
            names = _members(entry)
            if names is not None:
                members[entry] = names
    drop = [e for e, names in members.items()
            if top_level_packages(names) <= SPARK_PACKAGES]
    if not drop:
        return []
    kept = [e for e in path if e not in drop]
    homes = {pkg: next((e for e in kept if _holds(e, pkg, members)), None)
             for pkg in SPARK_PACKAGES}
    if any(home is None or home in members for home in homes.values()):
        return []
    version = _read(homes["pyspark"], VERSION_FILE, members)
    if version is None or any(
            _read(e, VERSION_FILE, members) != version
            for e in drop if _holds(e, "pyspark", members)):
        return []
    path[:] = kept
    for key in list(cache):
        if any(key == e or key.startswith(e + os.sep) for e in drop):
            del cache[key]
    return drop


def main() -> None:
    prune_spark_archives(sys.path, sys.path_importer_cache)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
