"""Every ``.scratch/`` path the engine writes, in one namespace per sf dir.

The reference keeps its progress in one committed store, its SQLite
checkpoint (retrieval.py:30-60, normalization.py:24-51).
The engine's analog is the checkpoint discipline of Structured Streaming:
state is idempotent and committed atomically.  Everything derived from an
sf dir lives under ``SCRATCH/<basename>.<md5(abspath)[:8]>/``: the path
hash keeps two sf dirs that share a basename apart, and the basename prefix
lets a wipe by data tag find every artifact of an sf dir.

Two kinds of path:

- :func:`derived` — an artifact that is a pure function of the sf dir's
  tables and the package code (a staged intermediate, a format fixture,
  the docstore collection).  Its key hashes both, so a changed table file
  or a code edit misses, and a second process reuses what the first one
  committed.  The artifact is written to a private temp path and committed
  by ``os.rename``: concurrent writers of one key race only on the rename.
- :func:`run_dir` — a dir an op mutates (a lake, a watermark store, a
  stream sink or checkpoint): empty on every call, under one
  ``run-<pid>-*`` root per process that is removed at exit.  A process
  killed before its exit handler ran leaves its root behind; the next
  process to create a root in the namespace removes it.
"""

from __future__ import annotations

import atexit
import functools
import hashlib
import os
import re
import shutil
import tempfile
import uuid
from collections.abc import Callable

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), ".scratch")
#: the session's warehouse and local dirs (``session.get_spark``)
WAREHOUSE = os.path.join(SCRATCH, "warehouse")
SPARK_LOCAL = os.path.join(SCRATCH, "spark-local")

_KEY_HEX = 16
#: a writer's private temp path in a namespace: ``.tmp-<pid>-<uuid>``
_TMP = re.compile(r"\.tmp-(\d+)-.+")
#: a process's run-dir root in a namespace: ``run-<pid>-<suffix>``
_RUN_ROOT = re.compile(r"run-(\d+)-.+")


def parquet_files(path: str) -> list[str]:
    """The parquet data files of ``path``: the file itself, or every
    ``.parquet`` file under it, nested or Hive-partitioned.  Like Spark's
    file index, names starting with ``_`` or ``.`` (``_SUCCESS``,
    ``_temporary``, checksums) are skipped."""
    files = [path] if os.path.isfile(path) else []
    for root, dirs, names in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        files += [os.path.join(root, f) for f in sorted(names)
                  if f.endswith(".parquet") and not f.startswith(("_", "."))]
    return files


def namespace(sf_dir: str) -> str:
    """``SCRATCH/<basename>.<md5(abspath)[:8]>``: the dir every artifact
    derived from ``sf_dir`` lives under."""
    abspath = os.path.abspath(sf_dir.rstrip("/") or "/")
    digest = hashlib.md5(abspath.encode()).hexdigest()[:8]
    return os.path.join(SCRATCH,
                        f"{os.path.basename(abspath) or 'root'}.{digest}")


@functools.cache
def _code_fingerprint() -> str:
    """Content hash of the package's ``.py`` files, taken once per process:
    any code edit re-keys every derived artifact, so no per-artifact
    version constant needs a bump."""
    pkg = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha256()
    for root, dirs, names in os.walk(pkg):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for f in sorted(n for n in names if n.endswith(".py")):
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                h.update(f"{os.path.relpath(p, pkg)}\0".encode())
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _key(sf_dir: str) -> str:
    """Code fingerprint + (relpath, size, mtime_ns) of every table file:
    stat calls only, no footer read and no Spark job."""
    h = hashlib.sha256(_code_fingerprint().encode())
    for f in parquet_files(sf_dir):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, sf_dir)}\0{st.st_size}\0"
                 f"{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:_KEY_HEX]


def derived_path(sf_dir: str, name: str) -> str:
    """``<namespace>/<name>-<key>``: where :func:`derived` commits the
    artifact ``name`` of ``sf_dir`` (stat calls only)."""
    return os.path.join(namespace(sf_dir), f"{name}-{_key(sf_dir)}")


def derived(sf_dir: str, name: str, write: Callable[[str], None]) -> str:
    """The committed path :func:`derived_path` of an artifact that is a
    pure function of ``sf_dir``'s tables and the package code.

    On a miss ``write(tmp)`` creates the artifact at ``tmp``, a fresh path
    that does not exist yet (a Spark writer's output dir, or a dir the
    writer makes), and ``os.rename`` commits it.  If another process
    committed the key first the rename fails; that copy is as good, so this
    one is dropped.  After a commit the other keys of ``name`` are deleted:
    one copy per artifact per sf dir.  So are the temp paths of writers
    that died before their commit: ``tmp`` is ``.tmp-<pid>-<uuid>``, and a
    temp path whose pid is no longer alive is removed (a live writer's
    never is)."""
    ns = namespace(sf_dir)
    path = derived_path(sf_dir, name)
    if os.path.exists(path):
        return path
    os.makedirs(ns, exist_ok=True)
    tmp = os.path.join(ns, f".tmp-{os.getpid()}-{uuid.uuid4().hex}")
    try:
        write(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            if not os.path.exists(path):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    stale = re.compile(rf"{re.escape(name)}-[0-9a-f]{{{_KEY_HEX}}}")
    for entry in os.listdir(ns):
        orphan = _TMP.fullmatch(entry)
        if ((stale.fullmatch(entry) and os.path.join(ns, entry) != path)
                or (orphan and not _alive(int(orphan[1])))):
            shutil.rmtree(os.path.join(ns, entry), ignore_errors=True)
    return path


def _alive(pid: int) -> bool:
    """Whether process ``pid`` exists (signal 0 checks without sending)."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # exists, owned by another user
        pass
    return True


# namespace -> this process's run root in it
_RUN_ROOTS: dict[str, str] = {}


def run_dir(sf_dir: str, kind: str) -> str:
    """An empty ``<kind>`` dir for an op to mutate, under this process's
    ``run-<pid>-*`` root in ``sf_dir``'s namespace.  Each call empties it,
    so a rerun starts clean; the root is removed when the process exits.
    Creating a root also removes the roots of processes that are no
    longer alive (a live process's root never is)."""
    ns = namespace(sf_dir)
    root = _RUN_ROOTS.get(ns)
    if root is None or not os.path.isdir(root):
        os.makedirs(ns, exist_ok=True)
        for entry in os.listdir(ns):
            dead = _RUN_ROOT.fullmatch(entry)
            if dead and not _alive(int(dead[1])):
                shutil.rmtree(os.path.join(ns, entry), ignore_errors=True)
        root = _RUN_ROOTS[ns] = tempfile.mkdtemp(
            prefix=f"run-{os.getpid()}-", dir=ns)
    path = os.path.join(root, kind)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


atexit.register(lambda: [shutil.rmtree(r, ignore_errors=True)
                         for r in _RUN_ROOTS.values()])
