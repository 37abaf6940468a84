"""Registry fixture layer (neurondb_spark/registry/fixtures.py): key,
memo, completion marker and prebuild, driven by fake builders under a
private TMPDIR — no Spark job runs here."""

import os
import tempfile

import pytest

from neurondb_spark.registry import fixtures as fx


@pytest.fixture
def env(tmp_path, monkeypatch):
    monkeypatch.setenv("TMPDIR", str(tmp_path / "tmp"))
    os.makedirs(tmp_path / "tmp")
    monkeypatch.setattr(tempfile, "tempdir", None)  # re-read TMPDIR
    monkeypatch.setattr(fx, "FIXTURES", {})
    monkeypatch.setattr(fx, "_handles", {})
    sf = tmp_path / "sf0.001"
    os.makedirs(sf / "embeddings.parquet")
    (sf / "embeddings.parquet" / "part-0.parquet").write_bytes(b"x" * 10)
    return str(sf)


def _fake(name, builds, fail_first=False):
    """A fixture whose build writes ``out`` and records its path; the
    loaded handle is (path, contents of out)."""
    def load(spark, sf_dir, path):
        with open(os.path.join(path, "out")) as f:
            return path, f.read()

    @fx.fixture(name, load=load)
    def build(spark, sf_dir, path):
        assert not os.path.exists(path), "build must start from nothing"
        builds.append(path)
        os.makedirs(path)
        with open(os.path.join(path, "out"), "w") as f:
            f.write(f"build {len(builds)}")
        if fail_first and len(builds) == 1:
            raise RuntimeError("crash between build and insert")

    return build


def test_second_call_is_memoized_and_a_new_process_loads(env):
    builds = []
    get = _fake("idx", builds)
    h = get(None, env)
    assert get(None, env) is h and len(builds) == 1
    assert h[0].startswith(os.path.join(tempfile.gettempdir(),
                                        "neurondb_fixtures", "idx"))
    fx._handles.clear()  # a later process: complete dir is loaded
    assert get(None, env) == h and len(builds) == 1


def test_input_size_or_mtime_change_rebuilds(env):
    builds = []
    get = _fake("idx", builds)
    other_sf = os.path.join(os.path.dirname(env), "sf0.01")
    os.makedirs(other_sf)
    kept = get(None, other_sf)[0]
    first = get(None, env)[0]
    part = os.path.join(env, "embeddings.parquet", "part-0.parquet")
    with open(part, "ab") as f:
        f.write(b"y")  # size
    second = get(None, env)[0]
    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    third = get(None, env)[0]
    assert len({first, second, third}) == 3 and len(builds) == 4
    assert not os.path.exists(first) and not os.path.exists(second)
    assert os.path.isdir(kept)  # another scale factor keeps its fixture


def test_package_hash_change_rebuilds(env, monkeypatch):
    builds = []
    get = _fake("idx", builds)
    first = get(None, env)[0]
    monkeypatch.setattr(fx, "PACKAGE_HASH", "edited-source")
    second = get(None, env)[0]
    assert second != first and len(builds) == 2


def test_crashed_build_is_rebuilt_not_loaded(env):
    builds = []
    get = _fake("dml", builds, fail_first=True)
    with pytest.raises(RuntimeError):
        get(None, env)
    path = builds[0]
    assert os.path.exists(os.path.join(path, "out"))  # partial dir left
    fx._handles.clear()
    assert get(None, env) == (path, "build 2") and len(builds) == 2


def test_prebuild_builds_every_registered_fixture_once(env):
    builds = {n: [] for n in ("a", "b", "c")}
    for n, b in builds.items():
        _fake(n, b)
    fx.prebuild(None, env)
    fx.prebuild(None, env)
    assert {n: len(b) for n, b in builds.items()} == {"a": 1, "b": 1, "c": 1}
