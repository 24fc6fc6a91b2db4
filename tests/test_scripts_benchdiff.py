"""Tests for scripts/bench_diff.py: counter flags from the ``layers``
records, the seconds rule, and lanes that newly fail."""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts import bench_diff  # noqa: E402


def _layer(jobs=2, stages=3, shuffle=0, spill=0):
    return {"construct_s": 0.1, "execute_s": 0.5, "jobs": jobs,
            "stages": stages, "tasks": 8, "shuffle_write_bytes": shuffle,
            "spill_bytes": spill, "python_s": 0.0, "memo_hit": False}


def _run(tmp_path, capsys, old, new, old_layers=None, new_layers=None):
    op, np_ = tmp_path / "old.json", tmp_path / "new.json"
    for path, queries, layers in ((op, old, old_layers), (np_, new, new_layers)):
        doc = {"queries": queries}
        if layers is not None:
            doc["layers"] = layers
        path.write_text(json.dumps(doc))
    rc = bench_diff.main([str(op), str(np_)])
    return rc, capsys.readouterr().out


def test_one_more_job_on_one_lane_fails_with_equal_seconds(tmp_path, capsys):
    seconds = {f"q{i}": 2.0 for i in range(5)}
    old_layers = {name: _layer() for name in seconds}
    new_layers = {**old_layers, "q3": _layer(jobs=3)}
    rc, out = _run(tmp_path, capsys, seconds, seconds, old_layers, new_layers)
    assert rc == 1
    assert "1 counter flags" in out
    assert "COUNTER q3: jobs 2 -> 3" in out


def test_uniform_slowdown_with_equal_counters_flags_no_counter(tmp_path, capsys):
    old = {f"q{i}": 2.0 for i in range(9)}
    new = {f"q{i}": 3.0 for i in range(9)}
    layers = {name: _layer(shuffle=5 << 20) for name in old}
    rc, out = _run(tmp_path, capsys, old, new, layers, layers)
    assert rc == 1  # the seconds rule: every lane is 1.5x slower
    assert "9 regressed" in out
    assert "0 counter flags" in out
    assert "COUNTER" not in out


def test_byte_flags_need_double_and_one_mib(tmp_path, capsys):
    seconds = {"small": 1.0, "big": 1.0, "spill": 1.0}
    old_layers = {"small": _layer(shuffle=1000), "big": _layer(shuffle=4 << 20),
                  "spill": _layer(spill=1 << 20)}
    new_layers = {"small": _layer(shuffle=900_000),  # x900 but < 1 MiB more
                  "big": _layer(shuffle=7 << 20),  # +3 MiB but < 2x
                  "spill": _layer(spill=3 << 20)}  # 3x and +2 MiB
    rc, out = _run(tmp_path, capsys, seconds, seconds, old_layers, new_layers)
    assert rc == 1
    assert out.count("COUNTER") == 1
    assert f"COUNTER spill: spill_bytes {1 << 20} -> {3 << 20}" in out


def test_file_without_layers_diffs_on_seconds_only(tmp_path, capsys):
    seconds = {"a": 2.0, "b": 2.0}
    new_layers = {name: _layer(jobs=9) for name in seconds}
    rc, out = _run(tmp_path, capsys, seconds, seconds, None, new_layers)
    assert rc == 0
    assert "counters: not compared" in out
    assert "COUNTER" not in out
    rc, out = _run(tmp_path, capsys, seconds, {"a": 2.0, "b": 4.0},
                   None, new_layers)
    assert rc == 1
    assert "REGRESSED 2.00x  b" in out


def test_newly_failing_lane_fails_the_gate(tmp_path, capsys):
    rc, out = _run(tmp_path, capsys, {"a": 2.0}, {"a": -1.0})
    assert rc == 1
    assert "FAILED  a" in out
    assert "0 improved" in out


def test_lane_failed_in_old_is_not_compared(tmp_path, capsys):
    rc, out = _run(tmp_path, capsys, {"a": -1.0, "b": 2.0}, {"a": 2.0, "b": 2.0})
    assert rc == 0
    assert "0 improved" in out and "0 regressed" in out
    assert "FAILED" not in out


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-q"]))
