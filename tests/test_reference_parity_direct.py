"""THE parity gate: rank-identity against the reference's ACTUAL
implementation (its tokenizer, disk index writer/reader, and all four
ranked strategies executed from /root/reference), not just our
transcribed oracle. Runs in a subprocess so the reference's top-level
package names (text, documents, indexes, queries) never enter this
process's sys.path."""

from __future__ import annotations

import json
import subprocess
import sys


def test_rank_identical_to_reference_implementation(reference_tree):
    out = subprocess.run(
        [sys.executable, "tools/reference_rank_parity.py", "800"],
        cwd="/root/repo", capture_output=True, text=True, timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rec = json.loads([l for l in out.stdout.splitlines() if l.startswith("{")][-1])
    assert rec["rank_identical"] is True, rec["mismatches"]
    assert rec["boolean_identical"] is True, rec["boolean_mismatches"]
    assert rec["queries"] == 6 and rec["k"] == 10
