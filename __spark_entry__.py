"""Driver contract for the spark-graft builder (PySpark target).

Thin view over ``mapreduceimplementation_spark``'s registry: every operator
module self-registers its (spark, sf_dir) -> DataFrame callable and, where
SQL-expressible, a DuckDB oracle (see SURVEY.md §2 for the inventory).

Certification rotation: the driver's correctness gate checks the first ~50
entries of ``queries()`` in dict-iteration order (observed: CORRECTNESS_r03
holds exactly registry positions 0-49).  With >50 registered queries, a
fixed order would leave the tail permanently uncertified, so ``queries()``
orders the surface in three buckets (VERDICT r7 item 8):

1. never-driver-certified queries (a new operator must certify first);
2. queries whose OWN FUNCTION's source lines changed since the round
   that last certified them (VERDICT r9 item 3: a registration swap or
   rewrite means the certified implementation is NOT the current one —
   the most urgent recertification there is, so it must not queue
   behind incidental same-module edits);
3. queries whose defining module changed elsewhere since certification
   — a code change must not hide behind the round-robin while the
   window cycles the untouched tail;
4. everything else, oldest certification first (the original rotation).

Buckets 2-4 are each ordered oldest-certified-first, so even when a
wide refactor overflows a bucket past the ~50-slot window, the overflow
drains in oldest-first order over subsequent rounds.  Change detection
is ancestry-based: ONE ``git diff -U0 <cert_commit>`` (working tree vs
the commit that ADDED the certifying CORRECTNESS_r{N}.json — covers
commits after the cert AND uncommitted edits in one sweep) per
certifying round, with hunk new-file ranges intersected against each
query function's current source span to distinguish direct (bucket 2)
from module-only (bucket 3) change; any git failure degrades to the
plain recency rotation (policy documented in BASELINE.md).
"""

from __future__ import annotations

import inspect
import json
import re
import subprocess
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

import mapreduceimplementation_spark as eng

eng.load_all_operators()

_REPO = Path(__file__).resolve().parent


def _last_certified_round() -> dict[str, int]:
    """Map query name -> latest round with a PASSING driver CORRECTNESS
    row.  A failed row (err set, or any match flag false) must NOT count
    as certification — counting it would rotate a failing query to the
    back of the window exactly when it most needs re-checking."""
    last: dict[str, int] = {}
    for p in sorted(_REPO.glob("CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict) or row.get("err") is not None:
                continue
            flags = [
                row[k]
                for k in ("rows_match", "schema_match", "hash_match")
                if k in row
            ]
            if flags and all(flags):
                last[name] = max(rnd, last.get(name, 0))
    return last


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args],
        cwd=_REPO,
        capture_output=True,
        text=True,
        timeout=30,
        check=True,
    ).stdout.strip()


def _new_file_hunks(diff_text: str) -> dict[str, list[tuple[int, int]]]:
    """Parse ``git diff -U0`` output into {new-file repo-relative path:
    [(start, end)]} hunk ranges in NEW-file (working tree) coordinates.
    A pure-deletion hunk (new count 0) registers as a 1-line touch point
    at its new-file position, so a deletion inside a function still marks
    that function's span; a file deleted outright (``+++ /dev/null``) is
    skipped — its queries can't resolve to it anymore anyway."""
    hunks: dict[str, list[tuple[int, int]]] = {}
    cur: str | None = None
    for line in diff_text.splitlines():
        if line.startswith("+++ "):
            path = line[4:].strip()
            if path == "/dev/null":
                cur = None
            else:
                cur = path.strip('"').removeprefix("b/")
        elif line.startswith("@@ ") and cur is not None:
            m = re.match(r"@@ -\d+(?:,\d+)? \+(\d+)(?:,(\d+))? @@", line)
            if m:
                start = int(m.group(1))
                count = int(m.group(2)) if m.group(2) is not None else 1
                hunks.setdefault(cur, []).append(
                    (start, start + max(count, 1) - 1)
                )
    return hunks


#: _changed_since_cert severities: the certified implementation is not
#: the current one (own source lines touched) vs. the module moved
#: around it (incidental edits elsewhere in the file)
_SEV_DIRECT = 1
_SEV_MODULE = 2


def _changed_since_cert(last: dict[str, int]) -> dict[str, int]:
    """Map query name -> change severity for everything whose defining
    module changed AFTER the commit that added its certifying
    CORRECTNESS file: _SEV_DIRECT when the query's OWN function source
    span intersects a diff hunk (a rewrite or registration swap — the
    certified implementation is no longer what the key serves, VERDICT
    r9 item 3), else _SEV_MODULE.  ANCESTRY-based via ONE
    ``git diff -U0 <cert_commit> -- <modules>`` per certifying round
    (working tree vs cert commit covers later commits AND uncommitted
    edits in one sweep; -U0 makes hunk ranges exact).  Untracked modules
    (not in any diff) rank _SEV_DIRECT — a query resolving to a file git
    has never seen is maximally uncertified.  Empty dict on any git
    failure — the rotation then degrades to plain recency, never breaks,
    and says so on stderr instead of hiding the feature loss."""
    try:
        untracked = set()
        for line in _git("status", "--porcelain").splitlines():
            if line.startswith("??"):
                untracked.add(line[3:].strip().strip('"'))
        mod_rel = {
            name: str(
                Path(inspect.getfile(inspect.unwrap(fn))).resolve().relative_to(
                    _REPO
                )
            )
            for name, fn in eng.QUERIES.items()
        }
        spans: dict[str, tuple[int, int] | None] = {}
        for name, fn in eng.QUERIES.items():
            try:
                lines, start = inspect.getsourcelines(fn)
                spans[name] = (start, start + len(lines) - 1)
            except (OSError, TypeError):
                # unsourceable callable: can't localize — treated as
                # direct whenever its module changed (conservative)
                spans[name] = None
        rels = sorted(set(mod_rel.values()))
        cert_commit: dict[int, str] = {}
        diff_hunks: dict[int, dict[str, list[tuple[int, int]]]] = {}
        changed: dict[str, int] = {}
        for name, rnd in last.items():
            if name not in mod_rel:
                continue
            rel = mod_rel[name]
            if rel in untracked:
                changed[name] = _SEV_DIRECT
                continue
            if rnd not in cert_commit:
                cert_commit[rnd] = _git(
                    "log",
                    "--diff-filter=A",
                    "-1",
                    "--format=%H",
                    "--",
                    f"CORRECTNESS_r{rnd:02d}.json",
                )
            commit = cert_commit[rnd]
            if not commit:
                continue  # cert file never committed: nothing to compare
            if rnd not in diff_hunks:
                diff_hunks[rnd] = _new_file_hunks(
                    _git("diff", "-U0", commit, "--", *rels)
                )
            file_hunks = diff_hunks[rnd].get(rel)
            if not file_hunks:
                continue
            span = spans.get(name)
            direct = span is None or any(
                hs <= span[1] and he >= span[0] for hs, he in file_hunks
            )
            changed[name] = _SEV_DIRECT if direct else _SEV_MODULE
        return changed
    except Exception as exc:
        print(
            "__spark_entry__: rotation change-detection degraded to plain "
            f"recency ({type(exc).__name__}: {exc})",
            file=sys.stderr,
        )
        return {}


def _order(
    names: list[str], last: dict[str, int], changed: dict[str, int]
) -> list[str]:
    """The pure rotation policy (pytest-pinned): bucket 0 = never
    certified, bucket 1 = own function changed since certification
    (_SEV_DIRECT — includes registration swaps, VERDICT r9 item 3),
    bucket 2 = module changed elsewhere (_SEV_MODULE), bucket 3 = rest;
    buckets 1-3 oldest-certified first; stable within ties (registry
    module-load order)."""

    def key(n: str):
        rnd = last.get(n, -1)
        if rnd < 0:
            return (0, rnd)
        sev = changed.get(n)
        if sev == _SEV_DIRECT:
            return (1, rnd)
        if sev is not None:
            return (2, rnd)
        return (3, rnd)

    return sorted(names, key=key)


_ROTATION_CACHE: tuple[tuple, list[str]] | None = None


def _rotation_cache_key() -> tuple:
    """Invalidation key (ADVICE r8): the set of CORRECTNESS files and
    their mtimes plus the registered-name count — a long-lived driver
    that writes a new round's file (or registers more queries) gets a
    fresh rotation instead of a process-lifetime stale one."""
    def mtime(p: Path) -> int | None:
        # A cert file deleted/renamed between glob and stat must degrade
        # (ADVICE r9) — a vanished entry keys as None, and the next call
        # (post-vanish glob) simply omits it, invalidating the memo.
        try:
            return p.stat().st_mtime_ns
        except OSError:
            return None

    certs = tuple(
        sorted((p.name, mtime(p)) for p in _REPO.glob("CORRECTNESS_r*.json"))
    )
    return (certs, len(eng.QUERIES))


def _reset_rotation_cache() -> None:
    """Deliberate invalidation hook for tests and multi-round drivers."""
    global _ROTATION_CACHE
    _ROTATION_CACHE = None


def _rotation_order() -> list[str]:
    """Registry keys in certification-priority order (see module doc).
    Memoized on a CORRECTNESS-mtime key: queries() and oracle_sql() both
    call this in one driver run, and the git sweep (~20 subprocesses)
    cannot change between them — but a new round's cert file landing in
    the same process invalidates the memo (ADVICE r8)."""
    global _ROTATION_CACHE
    key = _rotation_cache_key()
    if _ROTATION_CACHE is None or _ROTATION_CACHE[0] != key:
        last = _last_certified_round()
        _ROTATION_CACHE = (
            key,
            _order(list(eng.QUERIES), last, _changed_since_cert(last)),
        )
    return _ROTATION_CACHE[1]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: reference-parity word count (wc.go) on sf0.001."""
    return eng.QUERIES["mr_wordcount"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: eng.QUERIES[name] for name in _rotation_order()}


def oracle_sql() -> dict[str, str]:
    return {
        name: eng.ORACLES[name] for name in _rotation_order() if name in eng.ORACLES
    }
