"""Build-once stores under GATE_DIR: the one place that names, builds
and publishes a persisted store (index layouts, trained quantizers,
graphs, lexicons, fixture files).

A store's directory name carries every routing/training constant it
depends on (``key``, usually a ``store_token``) AND the source table's
fingerprint, so a retune or an in-place testdata regeneration can never
serve stale state.  A store is built in a process-private hidden
sibling and published by one ``os.rename`` after its ``_BUILT`` marker
is written — the converter's one-PUT contract: a reader sees a whole
store or none, and two processes building the same key never
interleave their files.
"""

from __future__ import annotations

import errno
import hashlib
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

GATE_DIR = os.path.join(tempfile.gettempdir(), "spark_graft_gate")


def data_fingerprint(sf_dir: str, table: str = "embeddings") -> str:
    """Cheap fingerprint of a source table (size + mtime_ns, summed
    over files if a directory) — folded into the cache path so a
    regenerated-in-place testdata dir busts the cached layout instead
    of serving an index over data that no longer exists (ADVICE r9).
    Defaults to the embeddings table (every vector store); x252's
    word-count store fingerprints ``documents``."""
    import os

    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(path):
        size = mtime = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                st = os.stat(os.path.join(root, f))
                size += st.st_size
                mtime = max(mtime, st.st_mtime_ns)
    else:
        st = os.stat(path)
        size, mtime = st.st_size, st.st_mtime_ns
    return f"{size}_{mtime}"


def store_token(*sig) -> str:
    """8-hex digest of a store's routing/training constants."""
    return hashlib.sha256(repr(sig).encode()).hexdigest()[:8]


def _built(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_BUILT"))


def build_once(
    sf_dir: str,
    kind: str,
    key: str,
    build: Callable[[str], None],
    table: str = "embeddings",
) -> str:
    """Return ``GATE_DIR/{kind}_{tag}{key}_d{fingerprint}``, calling
    ``build(d)`` to fill a fresh directory ``d`` first unless a
    complete store (one holding ``_BUILT``) is already there.  A
    directory without ``_BUILT`` at that name — written by a killed
    build or by the pre-marker layout — is replaced, never served."""
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    name = f"{kind}_{tag}{key}_d{data_fingerprint(sf_dir, table)}"
    dest = os.path.join(GATE_DIR, name)
    if _built(dest):
        return dest
    tmp = os.path.join(GATE_DIR, f".{name}.{os.getpid()}.{uuid.uuid4().hex}")
    os.makedirs(tmp)
    try:
        build(tmp)
        with open(os.path.join(tmp, "_BUILT"), "w"):
            pass
        for retry in (False, True):
            try:
                os.rename(tmp, dest)
                return dest
            except OSError as e:
                if e.errno not in (errno.EEXIST, errno.ENOTEMPTY):
                    raise
            if _built(dest):  # another process published first
                shutil.rmtree(tmp, ignore_errors=True)
                return dest
            if retry:
                raise RuntimeError(f"cannot replace incomplete store {dest}")
            shutil.rmtree(dest, ignore_errors=True)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
