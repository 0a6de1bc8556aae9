# -*- coding: utf-8 -*-
"""Session defaults follow the box they run on, not a fixed core count."""

import os

from serbian_osm_lint_spark import session

GB = 2**30


def test_default_heap_scales_with_cores_under_a_memory_cap():
    assert session.default_heap_gb(4, 15.6 * GB) == 8  # floor of 8, under the cap
    assert session.default_heap_gb(32, 64 * GB) == 16  # 0.5 GB per core
    assert session.default_heap_gb(32, 15.6 * GB) == 9  # 60% of 15.6 GB, not 16
    assert session.default_heap_gb(4, 4 * GB) == 2
    assert session.default_heap_gb(1, 1 * GB) == 1  # never below 1


def test_default_cpus_falls_back_to_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_cpus() == 3
