"""The bench harness's host-derived plan, without a JVM: the scaling leg
plan, the legs' scrubbed environment, and an import that leaves the
process environment alone."""

import json
import os
import pathlib
import subprocess
import sys

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import bench  # noqa: E402


@pytest.mark.parametrize("nproc, plan", [
    (2, None),
    (4, [4, 1, 4]),
    (8, [8, 2, 8]),
    (32, [32, 8, 32]),
])
def test_leg_plan_follows_host(nproc, plan):
    assert bench.leg_plan(nproc) == plan


def test_leg_env_drops_inherited_tuning():
    parent = {
        "PATH": "/usr/bin",
        "SPARK_GRAFT_SHUFFLE": "7",
        "SPARK_GRAFT_AQE": "0",
        "SPARK_GRAFT_CRAWL_PAGES": "20000",
        "SPARK_GRAFT_DRIVER_MEM": "32g",
    }
    env = bench.leg_env(4, parent)
    assert env["PATH"] == "/usr/bin"
    assert "SPARK_GRAFT_SHUFFLE" not in env
    assert "SPARK_GRAFT_AQE" not in env
    assert "SPARK_GRAFT_DRIVER_MEM" not in env
    graft = {k: v for k, v in env.items() if k.startswith("SPARK_GRAFT_")}
    assert graft == {**bench.LEG_ENV, "SPARK_GRAFT_CPUS": "4"}
    assert parent["SPARK_GRAFT_SHUFFLE"] == "7"  # the parent's is untouched


def test_import_leaves_environ_unchanged():
    probe = (
        "import json, os, sys; before = dict(os.environ); "
        f"sys.path.insert(0, {str(ROOT)!r}); import bench; "
        "print(json.dumps(before == dict(os.environ)))"
    )
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    out = subprocess.run([sys.executable, "-c", probe], capture_output=True,
                         text=True, timeout=120, env=env, cwd="/")
    assert out.returncode == 0, out.stderr[-2000:]
    assert json.loads(out.stdout.strip().splitlines()[-1]) is True
