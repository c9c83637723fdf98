"""Where query fixtures live on disk, and for how long.

Every directory a registered query writes -- merge sinks, bucketed tables,
partitioned layouts, streaming checkpoints -- lives under one per-process
root, ``<tempfile.gettempdir()>/spark_graft_sinks_<pid>_<uuid>``. The root is
made on first use (so a ``TMPDIR`` set after import still applies) and
removed at interpreter exit. Only the process that made it removes it: a
forked child that exits leaves its parent's tree in place.

Two kinds of directory, both keyed by ``(name, key)``, ``key`` usually the
query's ``sf_dir``:

* ``fresh_dir`` is wiped on every call. Any query whose gated operator is
  the write itself (MERGE, DML, IVM, schema/spec evolution, index growth)
  uses it, so every run times that write.
* ``cached_dir`` is built once per process and rebuilt if the previous
  build raised. It is for read-path fixtures only, whose content is a pure
  function of the key and the code; ``tests/test_fixtures.py`` pins the
  names that may use it.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

_root: str | None = None
_built: set[str] = set()


def _remove(root: str, pid: int) -> None:
    if os.getpid() == pid:
        shutil.rmtree(root, ignore_errors=True)


def _path(name: str, key: str) -> str:
    global _root
    if _root is None:
        pid = os.getpid()
        _root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_sinks_{pid}_{uuid.uuid4().hex[:10]}",
        )
        os.makedirs(_root)
        atexit.register(_remove, _root, pid)
    return os.path.join(_root, f"{name}_{hashlib.md5(key.encode()).hexdigest()[:8]}")


def fresh_dir(name: str, key: str) -> str:
    """An empty (absent) directory path for ``(name, key)``: whatever an
    earlier call left there is deleted first."""
    path = _path(name, key)
    shutil.rmtree(path, ignore_errors=True)
    return path


def cached_dir(name: str, key: str, build: Callable[[str], None]) -> str:
    """The directory for ``(name, key)``, filled by ``build(path)`` on the
    first call in this process. A build that raises leaves nothing cached,
    so the next call wipes the partial tree and builds again."""
    path = _path(name, key)
    if path not in _built:
        shutil.rmtree(path, ignore_errors=True)
        build(path)
        _built.add(path)
    return path
