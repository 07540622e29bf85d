"""Python worker daemon: PySpark's own, minus archive paths that only
shadow unpacked packages.

PySpark's worker calls ``importlib.invalidate_caches()`` for every task
(``pyspark.worker_util.setup_spark_files``). Under Python 3.11 that
makes every ``zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's directory. The workers' path holds the Spark distribution's
``python/lib/pyspark.zip``, the py4j source zip and the ``spark-core``
jar; their 16 importers cost about 0.17 s per task, even an empty one.

Run as ``spark.python.daemon.module`` (``session.build_session`` sets
it), this module drops every ``.zip``/``.jar`` entry from ``sys.path``
and ``sys.path_importer_cache`` whose packages all import from an
unpacked location, at the same ``__version__`` where the archive's
``<package>/version.py`` states one. Only then does it import pyspark
and hand over to ``pyspark.daemon.manager()``; the forked workers
inherit the pruned path. An archive that is the only source of one of
its packages, or that carries another version, stays, so a cluster
that ships only the zip, or a version skew, runs exactly PySpark's
daemon.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_ARCHIVE_SUFFIXES = (".zip", ".jar")
_VERSION = re.compile(r"""^__version__\b[^=\n]*=\s*['"]([^'"]+)['"]""", re.M)


def _is_archive(entry: str) -> bool:
    return entry.lower().endswith(_ARCHIVE_SUFFIXES)


def _version(source: str) -> str | None:
    match = _VERSION.search(source)
    return match.group(1) if match else None


def _top_level_names(members: list[str]) -> set[str]:
    """The module and package names importable from an archive's root."""
    names = set()
    for member in members:
        if member.endswith((".py", ".pyc")):
            head, sep, _ = member.partition("/")
            names.add(head if sep else head.rsplit(".", 1)[0])
    return names


def redundant(archive: str, unpacked: list[str]) -> bool:
    """True when every package ``archive`` provides imports from one of
    the ``unpacked`` directories, at the same version where the archive
    has a ``<package>/version.py``. A missing archive provides nothing;
    an unreadable one is kept."""
    if not os.path.exists(archive):
        return True
    try:
        with zipfile.ZipFile(archive) as zf:
            members = zf.namelist()
            for name in _top_level_names(members):
                spec = PathFinder.find_spec(name, unpacked)
                if spec is None:
                    return False
                version_py = f"{name}/version.py"
                if version_py not in members:
                    continue
                if not spec.submodule_search_locations:
                    return False
                local = os.path.join(list(spec.submodule_search_locations)[0], "version.py")
                with open(local, encoding="utf-8") as f:
                    if _version(f.read()) != _version(zf.read(version_py).decode("utf-8")):
                        return False
    except (OSError, UnicodeDecodeError, zipfile.BadZipFile):
        return False
    return True


def prune_archives(path: list[str] | None = None, cache: dict | None = None) -> list[str]:
    """Remove the redundant archive entries from ``path`` (default
    ``sys.path``) in place, and their importers, including those of
    sub-packages, from ``cache`` (default ``sys.path_importer_cache``).
    Returns the removed entries."""
    path = sys.path if path is None else path
    cache = sys.path_importer_cache if cache is None else cache
    unpacked = [p for p in path if os.path.isdir(p or os.curdir)]
    dropped = [p for p in path if _is_archive(p) and redundant(p, unpacked)]
    path[:] = [p for p in path if p not in dropped]
    for key in list(cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del cache[key]
    return dropped


if __name__ == "__main__":
    prune_archives()
    from pyspark import daemon

    daemon.manager()
