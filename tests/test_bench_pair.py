"""Pure logic of the paired-trial bench harness (tools/bench_pair.py): the
efficiency arithmetic, the summary statistics and the BENCH/scaling.json
bookkeeping. No Spark: trials are faked at the `run_trial` seam."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

import bench_pair  # noqa: E402


def _trials(levels, walls_by_level):
    return {
        c: [{"cores": c, "walls": {"q": w}} for w in walls_by_level[i]]
        for i, c in enumerate(levels)
    }


@pytest.mark.parametrize("levels", [[1, 4], [2, 8]])
def test_paired_efficiency_per_trial(levels):
    rec = bench_pair.summarize(
        _trials(levels, [[12.0, 20.0, 9.0], [4.0, 5.0, 3.0]]), levels
    )["q"]
    # wall_n / (k · wall_kn), k = 4, trial by trial (not across trials)
    assert rec["efficiency_paired_trials"] == [0.75, 1.0, 0.75]
    assert rec["efficiency"] == 0.75


def test_even_trial_count_takes_true_median_and_records_min_max():
    rec = bench_pair.summarize(
        _trials([1, 4], [[10.0, 14.0], [2.0, 3.0]]), [1, 4]
    )["q"]
    assert rec["efficiency_paired_trials"] == [1.25, 1.167]
    # the upper middle (1.25) is what a sorted()[len // 2] "median" reads
    assert rec["efficiency"] == pytest.approx((1.25 + 1.167) / 2)
    assert rec["wall_n_median"] == 12.0
    assert rec["wall_4n_median"] == 2.5
    assert (rec["efficiency_min"], rec["efficiency_max"]) == (1.167, 1.25)


def test_single_level_records_walls_only():
    rec = bench_pair.summarize(_trials([4], [[3.0, 1.0, 2.0]]), [4])["q"]
    assert rec == {"wall_n_median": 2.0}


def test_merge_keeps_other_runs_byte_identical(tmp_path):
    path = tmp_path / "scaling.json"
    history = {
        "old_a": {"pair": "2:8", "queries": {"x": {"efficiency": 0.8925}}},
        "old_b": {"note": "ünïcode", "trials": {"2": [{"walls": {"x": 1.5}}]}},
    }
    path.write_text(json.dumps(history, indent=2) + "\n")
    before = path.read_text()
    bench_pair.merge_run(str(path), "new", {"queries": {"y": {"efficiency": 1.0}}})
    after = path.read_text()
    # the old text up to its closing brace survives as a prefix, byte for byte
    assert after.startswith(before[: -len("\n}\n")])
    assert json.loads(after) == {**history, "new": {"queries": {"y": {"efficiency": 1.0}}}}


def test_run_name_is_required():
    with pytest.raises(SystemExit) as exc:
        bench_pair.parse_args(["--workload", "engine", "--data-dir", "/d"])
    assert exc.value.code == 2


@pytest.mark.parametrize("pair", ["1:4:16", "x", "4:"])
def test_malformed_pair_is_rejected(pair):
    with pytest.raises(SystemExit) as exc:
        bench_pair.parse_args(
            ["--workload", "engine", "--data-dir", "/d", "--run-name", "r",
             "--pair", pair]
        )
    assert exc.value.code == 2


def test_driver_checkpoints_then_merges_and_removes_partial(tmp_path, monkeypatch):
    monkeypatch.setattr(bench_pair, "BENCH_DIR", str(tmp_path))
    partial = tmp_path / ".r1.partial.json"
    seen_partial = []

    def fake_trial(args, cores):
        seen_partial.append(partial.exists())
        return {"cores": cores, "host_load_before": 0.5,
                "walls": {"q": 8.0 / cores}, "rows": 100}

    monkeypatch.setattr(bench_pair, "run_trial", fake_trial)
    argv = ["--workload", "engine", "--data-dir", "/d", "--run-name", "r1",
            "--trials", "2"]
    assert bench_pair.main(argv) == 0
    # checkpointed after the first trial, gone once the run is merged
    assert seen_partial == [False, True, True, True]
    assert not partial.exists()
    run = json.loads((tmp_path / "scaling.json").read_text())["r1"]
    assert run["pair"] == "1:4" and run["workload"] == "engine"
    assert run["queries"]["q"]["efficiency_paired_trials"] == [1.0, 1.0]
    assert [t["rows"] for t in run["trials"]["4"]] == [100, 100]
    # a recorded run name is never overwritten
    with pytest.raises(SystemExit):
        bench_pair.main(argv)
