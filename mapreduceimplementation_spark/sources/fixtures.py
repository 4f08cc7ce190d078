"""Shared fixture caching for the format-parity materializers.

The text/JSON-lines/CSV/ORC ingestion operators and the chunked stream
feed materialize the parquet testdata into their layout ONCE and reuse it
via a _SUCCESS marker (``_materialize_once``).  The cache key must
identify the SOURCE DATA, not just the directory name — keyed by
basename alone, two datasets both named "sf0.1" (or a regenerated
parquet) would silently reuse a stale corpus and the format-parity gates
would compare different data.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable


def fixture_dir(prefix: str, source_path: str) -> str:
    """Deterministic temp-dir for a materialized fixture, keyed by the
    source file's absolute path + mtime + size, so changed or different
    source data never reuses a stale cache."""
    import tempfile

    st = os.stat(source_path)
    key = f"{os.path.abspath(source_path)}|{st.st_mtime_ns}|{st.st_size}"
    fp = hashlib.md5(key.encode()).hexdigest()[:12]
    name = os.path.basename(os.path.dirname(source_path)) or "sf"
    return os.path.join(tempfile.gettempdir(), f"{prefix}_{name}_{fp}")


def _materialize_once(
    prefix: str, source_path: str, write: Callable[[str], None]
) -> str:
    """The ``fixture_dir`` for ``source_path``, filled by ``write(dir)``
    unless an earlier call completed it.  The ``_SUCCESS`` marker is
    touched only after ``write`` returns, so an interrupted write is
    redone on the next call."""
    d = fixture_dir(prefix, source_path)
    marker = os.path.join(d, "_SUCCESS")
    if not os.path.exists(marker):
        os.makedirs(d, exist_ok=True)
        write(d)
        with open(marker, "w"):
            pass
    return d
