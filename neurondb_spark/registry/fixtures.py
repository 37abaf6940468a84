"""Registry fixtures: what a query builds once per input set (indexes,
trained models, stream sources, scenario tables) — the CREATE INDEX half
of a registry row, read by every later call.

An artifact lives at ``<gettempdir()>/neurondb_fixtures/<name>/<key>/``.
The key is a sha256 over the fixture name, the sf path, every input
file's (relative path, size, mtime_ns) and one hash of the package's
``.py`` sources, which stands in for the builder's parameters and all
the code it calls. A build writes ``.complete`` (holding the sf path)
last; a directory without it is removed and rebuilt, never loaded."""

from __future__ import annotations

import functools
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable

_PKG = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_DONE = ".complete"


def _files(root: str) -> list[str]:
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)


def _package_hash() -> str:
    h = hashlib.sha256()
    for p in (p for p in _files(_PKG) if p.endswith(".py")):
        with open(p, "rb") as f:
            h.update(os.path.relpath(p, _PKG).encode() + b"\0" + f.read())
    return h.hexdigest()


PACKAGE_HASH = _package_hash()
FIXTURES: dict[str, Callable] = {}  # name -> (spark, sf_dir) accessor
_handles: dict[str, object] = {}  # key dir -> loaded handle


def _built_from(path: str) -> str | None:
    """The sf path a complete fixture directory was built from, or None."""
    try:
        with open(os.path.join(path, _DONE)) as f:
            return f.read()
    except FileNotFoundError:
        return None


def fixture_dir(name: str, sf_dir: str) -> str:
    """The directory fixture ``name`` uses for the inputs under ``sf_dir``."""
    sf = os.path.normpath(os.path.abspath(sf_dir))
    h = hashlib.sha256(f"{name}\0{sf}\0{PACKAGE_HASH}".encode())
    for p in _files(sf):
        st = os.stat(p)
        h.update(f"\0{os.path.relpath(p, sf)}\0{st.st_size}\0"
                 f"{st.st_mtime_ns}".encode())
    return os.path.join(tempfile.gettempdir(), "neurondb_fixtures", name,
                        h.hexdigest())


def fixture(name: str, load: Callable = lambda spark, sf_dir, path: path):
    """Turn ``build(spark, sf_dir, path)``, which writes the artifact under
    ``path``, into a memoized ``(spark, sf_dir)`` accessor returning
    ``load(spark, sf_dir, path)`` — the same call whether this process
    built the directory or found it complete. A build first removes the
    fixture's incomplete directories and its other keys for the same sf
    path; other scale factors keep theirs."""
    if name in FIXTURES:
        raise ValueError(f"duplicate fixture name: {name}")

    def wrap(build: Callable) -> Callable:
        @functools.wraps(build)
        def get(spark, sf_dir: str):
            path = fixture_dir(name, sf_dir)
            if path not in _handles:
                if _built_from(path) is None:
                    sf = os.path.normpath(os.path.abspath(sf_dir))
                    parent = os.path.dirname(path)
                    for old in os.listdir(parent) if os.path.isdir(parent) else []:
                        if _built_from(os.path.join(parent, old)) in (None, sf):
                            shutil.rmtree(os.path.join(parent, old),
                                          ignore_errors=True)
                    build(spark, sf_dir, path)
                    os.makedirs(path, exist_ok=True)
                    with open(os.path.join(path, _DONE), "w") as f:
                        f.write(sf)
                _handles[path] = load(spark, sf_dir, path)
            return _handles[path]

        FIXTURES[name] = get
        return get

    return wrap


def prebuild(spark, sf_dir: str) -> None:
    """Build (or load) every registered fixture for ``sf_dir``."""
    for get in FIXTURES.values():
        get(spark, sf_dir)
