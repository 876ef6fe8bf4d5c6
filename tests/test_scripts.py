"""The scaling harnesses' child-process plumbing (scripts/scaling_gate.py)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))

import scaling_gate  # noqa: E402


def test_run_child_reports_crash():
    """A child that dies raises with its exit code and stderr, not an
    IndexError on its empty stdout."""
    crash = "import sys\nsys.stderr.write('boom in child\\n')\nsys.exit(3)\n"
    with pytest.raises(RuntimeError, match=r"code 3(.|\n)*boom in child"):
        scaling_gate.run_child(crash, [])


def test_run_child_returns_last_json_line():
    ok = "import json\nprint('noise')\nprint(json.dumps({'v': 1}))\n"
    assert scaling_gate.run_child(ok, []) == {"v": 1}
