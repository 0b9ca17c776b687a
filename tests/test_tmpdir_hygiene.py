"""Temp-directory hygiene (r15 VERDICT item 6): every fixture directory —
streaming staging caches, per-run hard-link dirs, state stores,
checkpoints, registry store clones — must be swept when the process
exits, and no package module or test may allocate an untracked
``tempfile.mkdtemp``.
"""

from __future__ import annotations

import os
import pathlib
import re
import subprocess
import sys

STREAMING_DIR = (
    pathlib.Path(__file__).resolve().parents[1]
    / "robi_biometric_qdrant_vector_db_service_spark"
    / "streaming"
)


def test_no_untracked_mkdtemp_in_package_sources():
    """Every package module — streaming stages, registry fixtures and
    their per-call store clones alike — allocates temp dirs through
    ``tracked_mkdtemp``, and every test through pytest's ``tmp_path`` /
    ``tmp_path_factory``, so none outlives its owner (a bare mkdtemp in a
    hypothesis test leaks one dir per example)."""
    repo = STREAMING_DIR.parents[1]
    bare = re.compile(r"\bmkdtemp\(")  # not tracked_mkdtemp(
    offenders = []
    for root in (STREAMING_DIR.parent, repo / "tests"):
        for p in root.rglob("*.py"):
            if p == STREAMING_DIR / "_tmpdirs.py":
                continue  # the tracker itself owns the one real mkdtemp call
            if bare.search(p.read_text()):
                offenders.append(p.relative_to(repo).as_posix())
    assert not offenders, offenders


def test_every_stream_start_declares_a_checkpoint_location():
    """A ``writeStream ... .start()`` without an explicit
    ``checkpointLocation`` makes Spark allocate an UNTRACKED temp
    checkpoint dir that is retained on query failure — a leak path the
    mkdtemp grep above cannot see (found by the r16 advisor in
    changefeed.py).  Every streaming module must pass a tracked dir."""
    offenders = []
    for p in STREAMING_DIR.glob("*.py"):
        src = p.read_text()
        n_starts = src.count(".start()")
        n_ckpts = src.count("checkpointLocation")
        if n_starts > n_ckpts:
            offenders.append((p.name, n_starts, n_ckpts))
    assert not offenders, offenders


def test_streams_start_only_in_the_drain_helper():
    """One stream start site: ``.writeStream`` appears only in
    ``streaming/drain.py`` anywhere in the package, and no other streaming
    module sets SQL conf — per-drain overrides go through the helper's
    ``conf``, which is scoped to one drain and restored on failure."""
    package = STREAMING_DIR.parent
    writers = sorted(
        p.relative_to(package).as_posix()
        for p in package.rglob("*.py")
        if ".writeStream" in p.read_text()
    )
    assert writers == ["streaming/drain.py"], writers
    setters = sorted(
        p.name
        for p in STREAMING_DIR.glob("*.py")
        if p.name != "drain.py" and ".conf.set(" in p.read_text()
    )
    assert not setters, setters


def test_tracked_dirs_swept_at_interpreter_exit(tmp_path):
    """Allocate tracked dirs in a child interpreter, record their paths,
    and assert they are gone after a clean exit."""
    out = tmp_path / "paths.txt"
    code = f"""
import sys
sys.path.insert(0, {str(STREAMING_DIR.parents[1])!r})
from robi_biometric_qdrant_vector_db_service_spark.streaming._tmpdirs import tracked_mkdtemp
ds = [tracked_mkdtemp(prefix="hygiene_test_") for _ in range(3)]
open({str(out)!r}, "w").write("\\n".join(ds))
"""
    subprocess.run([sys.executable, "-c", code], check=True)
    paths = out.read_text().splitlines()
    assert len(paths) == 3
    for d in paths:
        assert not os.path.exists(d), d
