"""Per-run private scratch dirs, removed when the interpreter exits.

Queries that round-trip through disk (sinks, foreachBatch logs, artifact
stores) write to a path no other run shares, so concurrent runs never
overwrite each other mid-read. Nothing may remove such a path while the
query's frame is alive: the returned frame reads it lazily. So every
path is registered here and removed once, at exit, by :func:`cleanup`.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

_DIRS: set[str] = set()


def register(path: str) -> str:
    """Mark ``path`` for removal at exit and return it."""
    _DIRS.add(path)
    return path


def scratch_path(name: str) -> str:
    """A fresh registered path ``<tmpdir>/ddspark_<name>_<uuid8>`` (not
    created)."""
    return register(
        os.path.join(
            tempfile.gettempdir(), f"ddspark_{name}_{uuid.uuid4().hex[:8]}"
        )
    )


def cleanup() -> None:
    """Remove every registered path (missing ones are skipped)."""
    for d in list(_DIRS):
        shutil.rmtree(d, ignore_errors=True)
        _DIRS.discard(d)


atexit.register(cleanup)
