"""Fingerprinted /tmp caches for derived-source datasets.

Several queries exercise non-parquet connectors (JSON/CSV landing zones,
the wirelog wire-format DataSource, schema-evolution generations,
small-file compaction, partitioned layouts) by first LANDING a derived
copy of a testdata table under ``tempfile.gettempdir()`` and then reading
it back through the connector under test. The landing step is pay-once —
but the driver REGENERATES the source testdata between rounds, so a
marker that only says "done" can pin a stale copy: the Spark side would
read round-old data while the DuckDB oracle reads fresh parquet, failing
the correctness gate on data skew rather than on any engine bug.

``derived_cache`` therefore keys the marker on a fingerprint of the
source parquet files (name, size, mtime_ns). Any regeneration — even one
that keeps byte sizes identical — changes mtime and forces a rebuild.
Rebuilds wipe the directory first, so a crashed earlier attempt's partial
output (e.g. appended ``*.wirelog`` frame files) can never double-count.

At 100 TB the analog is a derived/materialized table keyed on the source
snapshot version (Delta/Iceberg snapshot id); mtime fingerprinting is the
filesystem-level stand-in for the same invalidation contract.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import tempfile
from collections.abc import Callable

from logflow.sources.tables import DEFAULT_SF_DIR, file_stamp

#: marker file holding the source fingerprint; underscore prefix keeps it
#: invisible to Spark's file listing (and to the wirelog reader's suffix
#: filter), so it never pollutes the derived dataset itself.
_MARKER = "_FINGERPRINT"


def source_fingerprint(sf_dir: str, tables: list[str]) -> str:
    """Hash of (table, file, size, mtime_ns) over the source parquet files
    (the file stamps ``load_table`` keys its schema memo on)."""
    h = hashlib.sha256()
    for t in sorted(tables):
        for name, size, mtime_ns in file_stamp(os.path.join(sf_dir, f"{t}.parquet")):
            h.update(f"{t}|{name}|{size}|{mtime_ns}\n".encode())
    return h.hexdigest()


def derived_cache(
    sf_dir: str | None,
    name: str,
    tables: list[str],
    build: Callable[[str], None],
) -> str:
    """Return the path of a cached derived dataset, rebuilding if stale.

    ``build(base)`` materializes the dataset into ``base`` (which exists
    and is empty when called). The fingerprint of ``tables`` under
    ``sf_dir`` is written to the marker only AFTER a successful build, so
    a crash mid-build leaves no marker and the next call starts from a
    wiped directory.
    """
    sf_dir = sf_dir or DEFAULT_SF_DIR
    tag = re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir)
    base = os.path.join(tempfile.gettempdir(), f"logflow-{name}-{tag}")
    marker = os.path.join(base, _MARKER)
    fp = source_fingerprint(sf_dir, tables)
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == fp:
                return base
    if os.path.exists(base):
        shutil.rmtree(base)
    os.makedirs(base)
    build(base)
    with open(marker, "w") as fh:
        fh.write(fp)
    return base
