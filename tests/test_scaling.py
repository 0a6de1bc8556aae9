# -*- coding: utf-8 -*-
"""The scaling harness (scripts/scaling.py): every workload's prep and
job run end to end at a tiny size, and one real two-level run holds."""

import importlib.util
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPT = os.path.join(ROOT, "scripts", "scaling.py")

_spec = importlib.util.spec_from_file_location("scaling", SCRIPT)
scaling = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(scaling)

#: cc needs whole 4,096-node components
TINY = {"cc": 8192}
#: synthetic events are ~1.4 ms apart, so no 1-hour window closes (and the
#: append-mode stream emits nothing) below ~5 M events
EMPTY_AT_TINY = {"stream"}


CASES = [pytest.param(name, TINY.get(name, 2000), id=name) for name in sorted(scaling.WORKLOADS)]
#: 30 users: the events generator once gave every user a single event type
#: when 3 divided the user count, so the as-of join found no partner
CASES.append(pytest.param("asof", 1920, id="asof-30-users"))


@pytest.mark.parametrize("name,n", CASES)
def test_workload_prep_and_timed_pass(spark, tmp_path, name, n):
    w = scaling.WORKLOADS[name]
    d = str(tmp_path / w.corpus)
    w.prep(spark, n, d)
    # procs workloads time one executor's shard of the corpus files
    shard = scaling._files(d)[::2] if w.procs else None
    sec, _cpu, row = scaling.measure(w, spark, d, shard)
    assert sec > 0
    count = next(iter(row.values()))  # every checksum row leads with its count
    if name in EMPTY_AT_TINY:
        assert count == 0, row
    else:
        assert count > 0 and all(v is not None for v in row.values()), row


def test_two_level_run_reproduces_its_checksum(tmp_path):
    out = subprocess.run(
        [sys.executable, SCRIPT, "decontam", "20000", "1", "2"],
        env={**os.environ, "TMPDIR": str(tmp_path)},
        check=True,
        capture_output=True,
        text=True,
    ).stdout
    res = json.loads(out.splitlines()[-1])
    assert res["lo"]["checksum"] == res["hi"]["checksum"]
    assert res["lo"]["checksum"]["n"] > 0
    assert res["efficiency"] > 0
    assert res["lo"]["cpu_s"] > 0 and res["hi"]["cpu_s"] > 0
    assert res["cpu_efficiency"] > 0
