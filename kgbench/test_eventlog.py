"""Tests for the event-log parser and the layer attribution.

``testdata/kg_long_sparse_smoke.eventlog`` was recorded by a traced
smoke run (``python3 kgbench/run.py --workload kg_long_sparse --seed 1
--seconds 1 --trace 1 --smoke``), keeping only the job-tagged events and
the fields the parser reads. Run with
``python3 -m pytest kgbench/test_eventlog.py -q``.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import run  # noqa: E402

LOG = os.path.join(HERE, "testdata", "kg_long_sparse_smoke.eventlog")


def _log() -> eventlog.Log:
    return eventlog.parse(LOG)


def test_stages_carry_their_job_group():
    groups = {s.group for s in _log().stages}
    assert {"p0:ingest", "p0:mentions", "p0:tail", "p0:count", "p0:scoring"} <= groups


def test_python_worker_metrics_present():
    mentions = [s for s in _log().stages if s.group == "p0:mentions"]
    assert sum(s.py_run_ms for s in mentions) > 0
    assert sum(s.py_sent for s in mentions) > 0
    totals = eventlog.totals(mentions)
    assert totals["py_run_s"] > 0 and totals["tasks"] > 0 and totals["failed_tasks"] == 0


def test_census_sees_the_detector_kernel():
    census = _log().census
    # the recorded build ran the pandas trie detector, not the Arrow one
    assert census["p0:mentions"]["MapInPandas"] == 1
    assert census["p0:mentions"]["MapInArrow"] == 0
    assert census["p0:tail"]["ArrowEvalPython"] >= 1


def test_attribution_splits_fused_tail_and_scoring_collect():
    log = _log()
    vals = {"ingest": 1.0, "mentions": 2.0, "tail": 3.0, "scoring.collect_s": 0.5, "scoring_sink": 0.25}
    out = run.attribute(log, "p0", vals)
    assert out["ingest.wall_s"] == 1.0 and out["mentions.wall_s"] == 2.0
    assert abs(out["pairs.wall_s"] + out["support.wall_s"] - 3.0) < 1e-9
    assert out["scoring.wall_s"] == 0.75
    tail = [s for s in log.stages if s.group == "p0:tail" and "scoring.py" not in s.name]
    maps = [s for s in tail if s.shuffle_write > 0 and s.shuffle_read == 0]
    assert maps and out["pairs.tasks"] == sum(len(s.run_ms) for s in maps)
    assert out["pairs.shuffle_read_bytes"] == 0
    assert out["support.shuffle_read_bytes"] == sum(s.shuffle_read for s in tail)
    # the embedding collect inside the build_triples call is scoring's
    collects = [s for s in log.stages if "scoring.py" in s.name and s.group == "p0:mentions"]
    assert collects and out["scoring.tasks"] >= sum(len(s.run_ms) for s in collects)
    assert out["mentions.pandas_kernels"] == 1 and out["mentions.arrow_kernels"] == 0
    assert out["trace.total_s"] == 6.0


def test_stage_at_picks_the_next_manifest_write():
    windows = {"ingest": {"end_ms": 100.0}, "mentions_ab": {"end_ms": 200.0}}
    assert run._stage_at(windows, 50) == "ingest"
    assert run._stage_at(windows, 100) == "ingest"
    assert run._stage_at(windows, 150) == "mentions_ab"
    assert run._stage_at(windows, 250) == ""
