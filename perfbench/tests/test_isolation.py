"""End-to-end runs of the benchmark in subprocesses (about three minutes).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import re
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
IGNORED = {"__pycache__", ".pytest_cache", ".git", "out"}


def _tree(root):
    out = set()
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if d not in IGNORED]
        out.update(os.path.join(dirpath, f) for f in files)
    return out


def _run(workload, seed, seconds, tmpdir):
    env = dict(os.environ, TMPDIR=tmpdir)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    sha = re.search(r"oplist_sha256=(\w+)", p.stderr).group(1)
    return result, sha


def test_dag_run_leaves_no_files_behind():
    before = _tree(ROOT)
    tmp_before = set(os.listdir("/tmp"))
    with tempfile.TemporaryDirectory() as tmpdir:
        # two reruns, so the second is checked against the first's manifest
        result, _ = _run("daily_dag", 1, 32, tmpdir)
        assert os.listdir(tmpdir) == []
    assert result["correct"] and result["failed"] == 0
    assert _tree(ROOT) == before
    leaked = set(os.listdir("/tmp")) - tmp_before
    assert not leaked, leaked


def test_two_runs_with_one_seed_execute_identical_op_lists():
    with tempfile.TemporaryDirectory() as tmpdir:
        (r1, sha1), (r2, sha2) = (
            _run("bi_interactive", 9, 5, tmpdir) for _ in range(2)
        )
    assert sha1 == sha2
    assert r1["attempted"] == r2["attempted"]
    assert r1["failed"] == r2["failed"] == 0
