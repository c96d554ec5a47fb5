"""Result lifetimes: plan-internal persists, the serve-once store, and
on-disk staging.

Every view this engine builds is a pure function of its input tables,
so "is this built thing still valid?" has one answer — has the input
table changed? — and this module is the only place that asks it.

Plan-internal persists. Operators like `operators.dedup.
minhash_lsh_pairs` persist an intermediate that several branches of
the returned — still lazy — plan consume. The operator cannot
unpersist it before the caller materializes the plan, so it registers
the frame with `track_persisted`; harness loops that run many queries
in one session (bench.py, tools/driver_check.py) call
`release_persisted()` after materializing each query. A plan re-run
after release simply recomputes its cache.

Table fingerprint. `fingerprint(sf_dir, table)` identifies one input
table as (absolute path, summed data-file bytes, max mtime_ns). It
works on a single parquet file and on a Spark-written table directory
(every data file below it; `_`/`.`-prefixed names such as `_SUCCESS`
and `.crc` files are skipped, as Spark skips them). A part file
rewritten in place changes the fingerprint even though the directory
inode does not. A missing table fingerprints as (path, 0, 0).

Serve-once store. `serve_once(spark, name, sf_dir, table, build)`
keeps one result per key ``(name, applicationId, fingerprint)``: a
hit returns the stored value, a miss calls ``build()`` and stores its
result. One eviction rule: storing a new fingerprint drops every
entry with the same (name, application, table path) and unpersists
it if it is a DataFrame, so a rewritten table never serves a stale
result and a multi-SF sweep holds one entry per table. Stored frames
are usually localCheckpoint-ed, for which unpersist() is a no-op; the
checkpoint blocks are then freed by the ContextCleaner once the
dropped entry is garbage-collected. Entries are NOT release-tracked
(they are the serve-many indexes).

Staging. `stage(sf_dir, table, prefix, write)` returns a directory
under the temp dir named ``{prefix}_{hash(table path)}_{mtime_ns}_
{bytes}`` — the input's fingerprint is in the path, so corpora that
share a basename never share staging and a rewritten input is staged
afresh. ``write(build_dir)`` runs only when the directory is missing,
into a unique build directory that is then renamed into place
atomically (a concurrent reader never sees a half-written drop; the
loser of a rename race removes its copy). After a build, staging of
superseded fingerprints for the same prefix and table is removed.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

_PERSISTED: list[DataFrame] = []

#: (name, applicationId, fingerprint) → built value; see `serve_once`.
_STORE: dict[tuple, Any] = {}


def track_persisted(df: DataFrame) -> DataFrame:
    """Register an already-persisted DataFrame for later release."""
    _PERSISTED.append(df)
    return df


def release_persisted() -> int:
    """Unpersist every tracked DataFrame; returns how many."""
    n = 0
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n


def _is_data_file(name: str) -> bool:
    return not name.startswith(("_", "."))


def fingerprint(sf_dir: str, table: str) -> tuple[str, int, int]:
    """(absolute path, summed data-file bytes, max mtime_ns) of
    ``{sf_dir}/{table}.parquet``, file or directory."""
    path = os.path.abspath(os.path.join(sf_dir, f"{table}.parquet"))
    try:
        st = os.stat(path)
    except OSError:
        return (path, 0, 0)
    if not os.path.isdir(path):
        return (path, st.st_size, st.st_mtime_ns)
    nbytes, mtime = 0, st.st_mtime_ns
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if _is_data_file(d)]
        for f in filter(_is_data_file, files):
            fst = os.stat(os.path.join(root, f))
            nbytes += fst.st_size
            mtime = max(mtime, fst.st_mtime_ns)
    return (path, nbytes, mtime)


def serve_once(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    table: str,
    build: Callable[[], Any],
) -> Any:
    """Return the value ``build()`` made from ``table``'s current
    contents in this Spark application, building it on a miss."""
    app = spark.sparkContext.applicationId
    fp = fingerprint(sf_dir, table)
    key = (name, app, fp)
    if key in _STORE:
        return _STORE[key]
    for k in [k for k in _STORE if k[:2] == key[:2] and k[2][0] == fp[0]]:
        stale = _STORE.pop(k)
        if isinstance(stale, DataFrame):
            try:
                stale.unpersist()
            except Exception:
                pass  # session stopped — blocks already gone
    _STORE[key] = value = build()
    return value


def _staging_base(sf_dir: str, table: str, prefix: str) -> tuple[str, str]:
    path, nbytes, mtime = fingerprint(sf_dir, table)
    h = hashlib.sha256(path.encode()).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), f"{prefix}_{h}_")
    return base, f"{base}{mtime}_{nbytes}"


def staging_dir(sf_dir: str, table: str, prefix: str) -> str:
    """The staging path `stage` uses for ``table``'s current
    contents (no I/O beyond the fingerprint)."""
    return _staging_base(sf_dir, table, prefix)[1]


def stage(
    sf_dir: str, table: str, prefix: str, write: Callable[[str], None]
) -> str:
    """Return ``table``'s staging directory for ``prefix``, building
    it once with ``write(build_dir)``."""
    base, out = _staging_base(sf_dir, table, prefix)
    if os.path.exists(out):
        return out
    build = f"{out}_build_{uuid.uuid4().hex[:8]}"
    write(build)
    try:
        os.rename(build, out)
    except OSError:
        # lost the race to a concurrent builder — theirs wins
        shutil.rmtree(build, ignore_errors=True)
        return out
    for d in os.listdir(tempfile.gettempdir()):
        p = os.path.join(tempfile.gettempdir(), d)
        if p.startswith(base) and p != out and "_build_" not in d:
            shutil.rmtree(p, ignore_errors=True)
    return out
