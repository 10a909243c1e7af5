"""The build-once cache (table_demo_spark/native_cache.py) that holds
the native builds and every staged fixture: a failed build leaves
nothing behind, a builder that loses the race returns the winner's
artifact, and a hit never builds."""

from __future__ import annotations

import glob
import os
import tempfile

import pytest

from table_demo_spark.native_cache import cached_build


@pytest.fixture
def cache_root(tmp_path, monkeypatch):
    """Point the cache at a fresh temp dir; returns the cache dir."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path / "tds_native"


def _leftovers(cache_root) -> list[str]:
    return sorted(os.listdir(cache_root))


@pytest.mark.parametrize("exc", [ValueError, OSError])
@pytest.mark.parametrize("kind", ["file", "dir"])
def test_failed_build_reraises_and_leaves_nothing(cache_root, exc, kind):
    def build(tmp: str) -> None:
        if kind == "dir":
            os.makedirs(tmp)
            with open(os.path.join(tmp, "part-0"), "w") as fh:
                fh.write("partial")
        else:
            with open(tmp, "w") as fh:
                fh.write("partial")
        raise exc("build failed")

    with pytest.raises(exc, match="build failed"):
        cached_build("art.bin" if kind == "file" else "art", "k", build)
    assert _leftovers(cache_root) == []
    assert glob.glob(str(cache_root / "*.tmp.*")) == []


def test_lost_race_returns_the_winners_directory(cache_root):
    def build(tmp: str) -> None:
        os.makedirs(tmp)
        with open(os.path.join(tmp, "mine"), "w") as fh:
            fh.write("loser")
        # a concurrent builder finishes first: the output is already a
        # non-empty directory when this one moves its tmp into place
        out = tmp.rsplit(".tmp.", 1)[0]
        os.makedirs(out)
        with open(os.path.join(out, "theirs"), "w") as fh:
            fh.write("winner")

    out = cached_build("shards", "k", build)
    assert os.listdir(out) == ["theirs"]
    assert _leftovers(cache_root) == [os.path.basename(out)]


def test_cache_hit_never_calls_build(cache_root):
    calls = []

    def build(tmp: str) -> None:
        calls.append(tmp)
        os.makedirs(tmp)

    first = cached_build("shards", "k", build)
    assert len(calls) == 1

    def must_not_build(tmp: str) -> None:
        raise AssertionError("cache hit called build")

    assert cached_build("shards", "k", must_not_build) == first
    assert len(calls) == 1
    # a different key is a different artifact
    assert cached_build("shards", "k2", build) != first
    assert len(calls) == 2
