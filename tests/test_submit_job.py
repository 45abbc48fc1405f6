"""scripts/submit_job.py end to end: counts from the manifests, resume on re-run."""

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]


def _submit(out: Path) -> dict:
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(filter(None, [str(REPO), os.environ.get("PYTHONPATH")])),
        "PYSPARK_SUBMIT_ARGS": "--master local[2] --driver-memory 1g pyspark-shell",
    }
    proc = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "submit_job.py"),
         "--demo-pages", "6", "--out", str(out)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _current_manifest(out: Path, table: str) -> dict:
    snap_dir = (out / table / "_current").read_text().strip()
    return json.loads((out / table / snap_dir / "manifest.json").read_text())


@pytest.mark.spark
def test_submit_job_reports_manifest_counts_and_resumes(tmp_path):
    out = tmp_path / "catalog"
    first = _submit(out)
    assert first["n_triples"] == _current_manifest(out, "triples")["row_count"] > 0
    manifests = sorted(out.glob("*/*/manifest.json"))
    assert {m.parent.parent.name for m in manifests} >= {
        "extracted", "entities_doc", "rels_doc", "nodes", "edges", "triples"
    }

    second = _submit(out)  # same input, same default fingerprint
    assert sorted(out.glob("*/*/manifest.json")) == manifests  # no new commit
    assert {k: second[k] for k in ("n_nodes", "n_edges", "n_triples")} == {
        k: first[k] for k in ("n_nodes", "n_edges", "n_triples")
    }
