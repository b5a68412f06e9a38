"""Atomic replacement of a table directory, and recovery from a crash
in the middle of one. Every at-rest table rewriter goes through here:
the job-state and CDC sinks, the IVM state tables, the forget
cascade, the IVF index's sizes table, compaction and the incremental
quality table.

Protocol. The new content is written in full to a sibling staging
dir ``<path>.__tmp-<token>`` (``stage``); ``swap_in`` then puts it in
place:

* no live dir yet (first write): one rename;
* otherwise one ``renameat2(RENAME_EXCHANGE)``: both paths exist
  before and after, so a reader never sees the table path missing,
  and the displaced copy ends up at the staging path;
* where the kernel, filesystem or sandbox refuses the exchange: two
  renames, live -> ``<path>.__old-<token>`` then staging -> live,
  with a retryable ENOENT window between them.

The displaced copy is deleted last. So a crash leaves one of three
states: before the swap, the live table is intact next to a stale
``__tmp-*``; between the two renames, the table's ONLY copy is the
``__old-*`` dir; after the swap, the new table is live next to a
stale displaced dir. ``recover`` turns each back into a clean live
table and must run before a writer reads the table it rewrites —
otherwise the missing path reads as "first write" and the next batch
replaces the whole history.

Local/POSIX paths only: on an object store this protocol is exactly
what a lakehouse table format replaces.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Callable

_TMP = ".__tmp-"
_OLD = ".__old-"


def stale_artifacts(path: str) -> list[str]:
    """Sorted full paths of the ``<path>.__tmp-*``/``<path>.__old-*``
    dirs a previous swap left behind (one listing of the parent)."""
    parent, name = os.path.split(path.rstrip("/"))
    parent = parent or "."
    if not os.path.isdir(parent):
        return []
    return sorted(os.path.join(parent, e) for e in os.listdir(parent)
                  if e.startswith((name + _TMP, name + _OLD)))


def recover(path: str,
            salvage: Callable[[str], object] | None = None) -> bool:
    """Restore-or-sweep, then report whether the table exists.

    If the table path is missing and an ``__old-*`` backup exists, the
    backup is renamed back into place: it is the only copy, and
    deleting it would turn a recoverable crash into data loss. If the
    path is missing and there is no backup, nothing is touched (a
    ``__tmp-*`` may be a complete copy someone can salvage). Once the
    path exists, every stale dir is deleted, after ``salvage(dir)``
    when given (compaction carries committed late appends out of it).

    Returns ``os.path.exists(path)`` after recovery: the one test the
    writers share for "no table yet, this is the first write"."""
    base = path.rstrip("/")
    stale = stale_artifacts(base)
    if not os.path.exists(base):
        olds = [s for s in stale if _OLD in os.path.basename(s)]
        if not olds:
            return False
        os.rename(olds[0], base)
        stale.remove(olds[0])
    for s in stale:
        if salvage is not None:
            salvage(s)
        shutil.rmtree(s, ignore_errors=True)
    return True


def stage(path: str) -> str:
    """A fresh staging path ``<path>.__tmp-<token>`` (not created)."""
    return f"{path.rstrip('/')}{_TMP}{uuid.uuid4().hex[:8]}"


def _exchange_dirs(a: str, b: str) -> bool:
    """Atomically swap two directories with Linux ``renameat2(...,
    RENAME_EXCHANGE)``. Returns False on ANY failure: besides the
    capability errnos (EINVAL/ENOSYS/ENOTSUP/EXDEV on non-Linux, old
    kernels, some network mounts), seccomp-filtered environments
    return EPERM/EACCES from a blocked renameat2, and the two-rename
    fallback is always safe."""
    import ctypes
    import ctypes.util
    try:
        libc = ctypes.CDLL(ctypes.util.find_library("c") or "libc.so.6",
                           use_errno=True)
        renameat2 = libc.renameat2
    except (OSError, AttributeError):
        return False
    renameat2.argtypes = [ctypes.c_int, ctypes.c_char_p, ctypes.c_int,
                          ctypes.c_char_p, ctypes.c_uint]
    renameat2.restype = ctypes.c_int
    AT_FDCWD = -100
    RENAME_EXCHANGE = 2
    rc = renameat2(AT_FDCWD, os.fsencode(a), AT_FDCWD, os.fsencode(b),
                   RENAME_EXCHANGE)
    return rc == 0


def swap_in(path: str, tmp: str,
            salvage: Callable[[str], object] | None = None):
    """Put the fully written staging dir ``tmp`` (from ``stage``) in
    place of ``path`` and delete the displaced copy. ``salvage`` runs
    on the displaced copy first and its result is returned; on a first
    write there is no displaced copy and the result is None. If
    ``salvage`` raises, the displaced copy stays on disk for the next
    ``recover``."""
    base = path.rstrip("/")
    if not os.path.exists(base):
        os.rename(tmp, base)
        return None
    if _exchange_dirs(base, tmp):
        displaced = tmp
    else:
        displaced = base + _OLD + tmp.rsplit(_TMP, 1)[1]
        os.rename(base, displaced)
        os.rename(tmp, base)
    out = salvage(displaced) if salvage is not None else None
    shutil.rmtree(displaced, ignore_errors=True)
    return out


def replace_dir(path: str, write: Callable[[str], object]) -> None:
    """``write(tmp)`` the new content into a staging dir, then swap it
    in: e.g. ``replace_dir(path, df.write.mode("overwrite").parquet)``.
    A failed write leaves the live table untouched."""
    tmp = stage(path)
    write(tmp)
    swap_in(path, tmp)
