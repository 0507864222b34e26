"""Hermetic scratch directories for registry fixtures.

Round 4's only red driver row (``merge_tx_time_travel``, hash mismatch the
judge could not reproduce) was traced to the fixture pattern every
write-path registry query shared: ONE deterministic scratch dir per
(query, scale), ``shutil.rmtree``'d on entry. Two concurrent invocations
of the same query — a parallel driver worker, a retry, an overlapping
sweep — wipe and rewrite the table while the other invocation's lazy
DataFrame still holds the old manifest's file list, yielding silently
different sums with no error (same rows, wrong hash: exactly the observed
signature).

This module is the fix, used by every fixture that writes scratch state
(merge_tx tables, streaming checkpoints, the Python-data-source JSONL
sink):

- :func:`new_scratch_dir` — a PER-INVOCATION unique dir (uuid suffix)
  under one common root, so concurrent invocations can never touch each
  other's files;
- :func:`detach_result` — eagerly ``localCheckpoint`` the result frame
  (rows move into Spark's block store) and delete the scratch dir
  immediately, so the RETURNED frame references no scratch file at all —
  even a GC'd or wiped dir cannot corrupt a late ``collect()``;
- an age-based GC (run on every ``new_scratch_dir``) that removes
  leftovers from crashed invocations, bounding disk use without a race:
  a dir younger than ``MAX_AGE_SECONDS`` may belong to a live run and is
  left alone.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
import uuid
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

_ROOT_NAME = "spark_graft_scratch"

# A fixture lives for one query invocation — seconds, not minutes. 30 min
# of grace keeps the GC from ever racing a live run while still reclaiming
# crash leftovers within the same driver round.
MAX_AGE_SECONDS = 1800.0


def user_cache_dir() -> str:
    """The per-user cache of built artifacts (the jpeg shim's ``.so``, the
    driver JVM's class-data archive): ``$XDG_CACHE_HOME`` or ``~/.cache``,
    then the package's name. Unlike :func:`scratch_root` it is not under
    the temp dir, which a run may point at a directory it deletes."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "gjenbruksstasjoner_kotid_estimering_spark")


def scratch_root() -> str:
    root = os.path.join(tempfile.gettempdir(), _ROOT_NAME)
    os.makedirs(root, exist_ok=True)
    return root


def _tree_older_than(path: str, cutoff: float) -> bool:
    """True iff EVERY mtime under ``path`` (the dir itself, every subdir,
    every file) is ≤ cutoff. A directory's own mtime FREEZES once its
    layout stops changing (e.g. a merge_tx table writing only inside
    ``data/`` and ``_commits/``), so judging liveness by the top-level
    mtime alone would reap a long-running invocation mid-run — the exact
    corruption class this module exists to prevent. Returns as soon as
    one fresh entry is found, so the common live-dir case touches a
    handful of entries, not the whole tree. Raises OSError if ``path``
    itself is gone (caller treats that as already-collected, NOT as
    ancient)."""
    if os.path.getmtime(path) > cutoff:  # propagate OSError: path vanished
        return False
    for dirpath, dirnames, filenames in os.walk(path):
        for name in dirnames + filenames:
            try:
                if os.path.getmtime(os.path.join(dirpath, name)) > cutoff:
                    return False
            except OSError:
                continue  # entry vanished mid-walk
    return True


def gc_scratch(max_age_seconds: float = MAX_AGE_SECONDS) -> list[str]:
    """Remove scratch dirs whose ENTIRE tree is older than
    ``max_age_seconds`` (crash leftovers); returns the removed paths.
    Liveness is the newest mtime in the tree, not the top dir's — see
    :func:`_tree_older_than`. Safe to call concurrently —
    ``rmtree(ignore_errors=True)`` and the age guard make double-removal
    and remove-while-live both harmless, and a dir another GC already
    collected is skipped, not reported removed again."""
    root = scratch_root()
    cutoff = time.time() - max_age_seconds
    removed: list[str] = []
    for name in os.listdir(root):
        path = os.path.join(root, name)
        owner = _pidcache_owner(name)
        if owner is not None:
            # per-process fixture caches live exactly as long as their
            # owner: reap on owner death (any age), never on age alone —
            # an idle-but-live process may still lazily read its cache
            if not _pid_alive(owner):
                shutil.rmtree(path, ignore_errors=True)
                removed.append(path)
            continue
        try:
            if _tree_older_than(path, cutoff):
                shutil.rmtree(path, ignore_errors=True)
                removed.append(path)
        except OSError:
            continue  # vanished mid-scan: another GC got it
    return removed


def new_scratch_dir(tag: str) -> str:
    """A fresh, never-shared scratch dir. ``tag`` is cosmetic (debugging
    a crashed run); uniqueness comes from the uuid."""
    gc_scratch()
    path = os.path.join(scratch_root(), f"{tag}-{uuid.uuid4().hex}")
    os.makedirs(path)
    return path


def detach_result(df: DataFrame, *scratch_dirs: str) -> DataFrame:
    """Materialize ``df`` off its scratch inputs and delete them.

    ``localCheckpoint(eager=True)`` computes the frame NOW and pins the
    rows in the executors' block store, severing the plan's reference to
    the scratch parquet/JSONL files — after which the dirs are removed.
    The caller gets a frame that is safe to collect at any later time,
    from any thread, regardless of what happens to scratch space.

    Sized for fixture results (≤ table-of-customers at bench scale); a
    production table would stay on disk and be vacuumed, not detached.
    """
    out = df.localCheckpoint(eager=True)
    for d in scratch_dirs:
        shutil.rmtree(d, ignore_errors=True)
    return out


# --- per-process fixture cache ----------------------------------------
#
# Some registry fixtures are IMMUTABLE once built (the merge_tx
# seed+commits table: copy-on-write data files + versioned manifests) and
# rebuilt identically by several registry queries. Rebuilding per
# invocation is hermetic but wasteful; sharing a deterministic path
# across PROCESSES was the round-4 corruption class. The middle ground: a
# cache dir OWNED BY THIS PROCESS (pid in the path), so
#
# - no cross-process sharing ever (the round-4 race cannot recur),
# - concurrent invocations in one process share a build under a lock,
# - crash leftovers are reaped by ANY later process seeing the owner pid
#   dead (no age heuristic needed), and the owner removes its dir at
#   interpreter exit.
#
# gc_scratch skips these dirs while their owner lives (age alone must
# never reap a cache another thread is lazily reading).

_PIDCACHE_PREFIX = "pidcache-"
_atexit_registered = False


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _pidcache_owner(name: str) -> int | None:
    if not name.startswith(_PIDCACHE_PREFIX):
        return None
    try:
        return int(name[len(_PIDCACHE_PREFIX):])
    except ValueError:
        return None


def process_cache_dir() -> str:
    """This process's fixture-cache root (created on first use); also
    reaps cache roots whose owner process is gone."""
    global _atexit_registered
    root = scratch_root()
    for name in os.listdir(root):
        pid = _pidcache_owner(name)
        if pid is not None and pid != os.getpid() and not _pid_alive(pid):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    path = os.path.join(root, f"{_PIDCACHE_PREFIX}{os.getpid()}")
    os.makedirs(path, exist_ok=True)
    if not _atexit_registered:
        import atexit

        atexit.register(
            lambda: shutil.rmtree(path, ignore_errors=True)
        )
        _atexit_registered = True
    return path
