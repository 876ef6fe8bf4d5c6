"""The scaling harnesses' child-process plumbing (scripts/scaling_gate.py),
and the documented cluster launch path (scripts/make_pyfiles_zip.py +
spark-submit --py-files)."""

import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

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


def test_spark_submit_py_files_convert(tmp_path):
    """README's cluster recipe: the --py-files zip alone carries the engine
    to the driver and to the Python workers, from any working directory."""
    spark_submit = os.path.join(os.environ.get("SPARK_HOME", ""), "bin",
                                "spark-submit")
    if not os.path.isfile(spark_submit):
        spark_submit = shutil.which("spark-submit")
    if not spark_submit:
        pytest.skip("spark-submit not found (neither $SPARK_HOME/bin nor PATH)")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    subprocess.run([sys.executable, os.path.join(REPO, "scripts",
                                                 "make_pyfiles_zip.py")],
                   check=True, capture_output=True, env=env)
    out = tmp_path / "tiles"
    work = tmp_path / "cwd"
    work.mkdir()
    proc = subprocess.run(
        [spark_submit, "--py-files",
         os.path.join(REPO, "dist", "py3dtiles_spark.zip"),
         os.path.join(REPO, "cli.py"), "convert", "--n-docs", "20000",
         "--cpus", "2", "--output", str(out)],
        cwd=work, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert (out / "tileset.json").is_file()
