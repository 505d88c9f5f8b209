"""Crash-safe sibling-swap for directory artifacts — the ONE copy of
the move/rename/rmtree dance shared by ``IVFIndex.compact/rebuild``
and ``HNSWIndex.compact`` (they previously carried near-copies with
subtly different recovery notes).

Contract (LOCAL / shared-POSIX filesystem only — see
``require_local_path``):

1. The caller fully writes the replacement artifact at a sibling path
   (``<path>.compact`` / ``.rebuild``) — the live artifact
   is untouched, so a kill before the swap loses nothing.
2. ``sibling_swap`` then runs: remove any stale ``<path>.old``, rename
   live -> ``.old``, rename sibling -> live, remove ``.old``.

Kill-window recovery (same at every call site): a readable artifact
always exists at either the live path or ``<path>.old``. A crash
between the two renames leaves the live name briefly absent — recover
by renaming ``<path>.old`` back. A leftover sibling dir from a crash
mid-write is garbage; callers pre-clean it before rewriting.

``os.rename`` is atomic only on one filesystem; on object stores
(s3://, hdfs://) a directory rename is a copy or unsupported, so the
helper FAILS FAST on scheme-qualified paths rather than silently
downgrading the crash-safety story.
"""

from __future__ import annotations

import os
import re
import shutil

_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


def require_local_path(path: str, what: str = "this operation") -> str:
    """Reject scheme-qualified (hdfs://, s3a://, ...) paths up front:
    the sibling-swap's crash-safety relies on same-filesystem atomic
    renames, which object stores don't provide. ``file://`` URIs are
    accepted and stripped to a plain path."""
    # Hadoop/Spark also emit the single-slash URI form "file:/path"
    # (no authority) — strip it before the scheme check would miss it
    if path.lower().startswith("file:") and not path[5:].startswith("//"):
        rest = path[5:]
        return rest if rest.startswith("/") else "/" + rest
    m = _SCHEME.match(path)
    if m:
        scheme = m.group(0)[:-3].lower()
        if scheme == "file":
            rest = path[len(m.group(0)):]
            return rest if rest.startswith("/") else "/" + rest
        raise ValueError(
            f"{what} requires a local (or shared-POSIX) filesystem "
            f"path: got scheme {scheme!r} in {path!r}. Directory "
            f"renames are not atomic (or not supported) there, which "
            f"breaks the crash-safe sibling-swap contract.")
    return path


def sibling_swap(path: str, tmp: str) -> None:
    """Swap the fully-written sibling ``tmp`` into ``path`` (both
    directories). See the module docstring for the recovery contract."""
    path = require_local_path(path, "sibling_swap")
    bak = path.rstrip("/") + ".old"
    shutil.rmtree(bak, ignore_errors=True)   # stale leftover from a crash
    os.rename(path.rstrip("/"), bak)
    os.rename(tmp.rstrip("/"), path.rstrip("/"))
    shutil.rmtree(bak)
