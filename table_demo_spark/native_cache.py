"""Build-once cache for artifacts the engine builds at run time: the
HEVC C kernel and the local file system's Java classes it compiles,
and the fixtures staged from the parquet tables (stream shards, the
format and gzip-CSV copies the source readers read), keyed by
``fixture_key``.

An artifact is built once per machine under
``tempfile.gettempdir()/tds_native``, named by the md5 of everything
that shapes it. The builder writes to a per-process temporary path
that ``os.replace`` moves into place, so concurrent builders (Spark
workers, parallel test sessions) are benign: a file is replaced
atomically, last writer wins; a directory that lost the race is
dropped for the winner's.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from typing import Callable


def cached_build(name: str, key: str, build: Callable[[str], None]) -> str:
    """Path of the artifact ``name`` built from ``key``; on a miss
    ``build(tmp)`` writes it (a file or a directory) at ``tmp``.
    Raises whatever ``build`` raises, and leaves no ``tmp`` behind."""
    cache = os.path.join(tempfile.gettempdir(), "tds_native")
    os.makedirs(cache, exist_ok=True)
    root, ext = os.path.splitext(name)
    out = os.path.join(cache, f"{root}_{hashlib.md5(key.encode()).hexdigest()}{ext}")
    if not os.path.exists(out):
        tmp = f"{out}.tmp.{os.getpid()}"
        try:
            build(tmp)
            os.replace(tmp, out)
        except OSError:
            if not os.path.exists(out):  # else a concurrent builder won
                raise
        finally:
            if os.path.isdir(tmp):
                shutil.rmtree(tmp, ignore_errors=True)
            elif os.path.exists(tmp):
                os.remove(tmp)
    return out


def fixture_key(sf_dir: str, table: str, *shape) -> tuple[str, str]:
    """(path of the fixture table, build-cache key naming it and
    ``shape``): the key changes when the fixture file does."""
    src = os.path.join(sf_dir, f"{table}.parquet")
    st = os.stat(src)
    return src, repr((os.path.abspath(src), st.st_mtime_ns, st.st_size, *shape))
