"""Smoke test of the four ``examples/`` scripts: each runs end to end in
its own process at sf0.001 and prints its summary line.

The examples are the only callers of most of the pipeline layer
(curation, sharding, streaming ingest and compaction, IVFADC, robots),
so this is the gate that keeps that code alive.  Each run takes one to
two minutes, so all four sit in the slow tier (``MSFS_FULL_TESTS=1``).
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# example -> the start of one line it prints on success
_EXAMPLES = {
    "crawl_to_corpus": "curated corpus: {",
    "curate_and_shard": "manifest: {",
    "index_and_append": "done — index at ",
    "ingest_and_compact": "compaction: {",
}


@pytest.mark.parametrize("example", sorted(_EXAMPLES))
def test_example_runs(example, sf_smoke, tmp_path):
    line = _EXAMPLES[example]
    proc = subprocess.run(
        [sys.executable, os.path.join(_REPO, "examples", f"{example}.py"),
         sf_smoke, str(tmp_path / "out")],
        # outside the repository, with no PYTHONPATH of its own: the
        # Python workers must import the package through get_spark's conf
        cwd=str(tmp_path),
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert any(
        out.startswith(line) for out in proc.stdout.splitlines()
    ), proc.stdout[-4000:]
