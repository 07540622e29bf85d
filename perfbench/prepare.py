"""Fixture preparation, the step before any measured run.

It builds (or verifies) the multifile-32 layout of the source fixtures
through ``bench._multifile_dir`` and computes the DuckDB oracle digest of
every benchmarked query over the source fixtures. Both are cached in the
checkout and keyed by ``bench._testdata_fingerprint``, so a measured
run's set-up never includes a rebuild and never waits for DuckDB.

Run on its own with ``python3 -m perfbench.prepare <source sf dir>``
from the repository root; ``perfbench/run.py`` does it when the cache is
missing or stale.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def _base(src_dir: str) -> str:
    return os.path.basename(src_dir.rstrip("/"))


def _stamp(src_dir: str) -> str:
    return os.path.join(WORK, f"prepared-{_base(src_dir)}.json")


def _layout_marker(src_dir: str) -> str:
    """``bench._multifile_dir`` writes this file once a layout is built."""
    return os.path.join(ROOT, ".fixtures", "multifile", _base(src_dir), "_COMPLETE")


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return None


def load(src_dir: str) -> dict | None:
    """The preparation record for ``src_dir`` if it is still valid."""
    import bench

    stamp = _read(_stamp(src_dir))
    if stamp is None:
        return None
    stamp = json.loads(stamp)
    fresh = (
        stamp["src_dir"] == src_dir
        and stamp["fingerprint"] == bench._testdata_fingerprint(src_dir)
        and stamp["marker"] == _read(_layout_marker(src_dir))
    )
    return stamp if fresh else None


def ensure(src_dir: str, timeout_s: float = 840.0) -> dict:
    """Prepare in a child process unless the cache is valid, so the
    measured run starts its own JVM."""
    stamp = load(src_dir)
    if stamp is None:
        subprocess.run([sys.executable, "-m", "perfbench.prepare", src_dir],
                       cwd=ROOT, check=True, timeout=timeout_s,
                       stdout=sys.stderr)
        stamp = load(src_dir)
        if stamp is None:
            raise RuntimeError(f"fixture preparation of {src_dir} left no valid record")
    return stamp


def main(src_dir: str) -> None:
    import bench

    from perfbench import checks
    from perfbench.workloads import CORPUS, cores, start_session, stop_session

    spark = start_session(WORK, cores())
    try:
        sf_dir, layout = bench._multifile_dir(spark, src_dir)
    finally:
        stop_session(spark)
    if layout != "multifile-32":
        raise RuntimeError(f"expected the multifile-32 layout, got {layout}")
    oracle = checks.oracle_digests(src_dir, CORPUS)
    stamp = {
        "src_dir": src_dir,
        "sf_dir": sf_dir,
        "layout": layout,
        "fingerprint": bench._testdata_fingerprint(src_dir),
        "marker": _read(_layout_marker(src_dir)),
        "oracle": oracle,
    }
    path = _stamp(src_dir)
    with open(path + ".tmp", "w") as fh:
        json.dump(stamp, fh, indent=1)
    os.replace(path + ".tmp", path)


if __name__ == "__main__":
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.makedirs(WORK, exist_ok=True)
    main(sys.argv[1])
