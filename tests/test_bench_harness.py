"""bench.py's host-derived helpers: scaling levels from the usable CPU
count, the scaling input size, and never-overwritten record files. No
SparkSession is started."""

import importlib.util
import json
import os
from datetime import datetime

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def bench():
    spec = importlib.util.spec_from_file_location("bench", os.path.join(REPO, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_scaling_is_skipped_below_four_cpus(bench):
    with pytest.raises(ValueError, match="3 usable CPUs"):
        bench.scaling_levels(3)


@pytest.mark.parametrize("cpus, levels", [(4, (1, 4)), (7, (1, 4)), (8, (2, 8)), (32, (2, 8))])
def test_scaling_levels_follow_the_cpu_count(bench, cpus, levels):
    assert bench.scaling_levels(cpus) == levels


@pytest.mark.parametrize("n_turns", [40_000, 400_000, 1_000_000])
def test_scaling_input_at_two_to_eight_is_unchanged(bench, n_turns):
    assert bench.scaling_turns(n_turns, 2) == max(n_turns * 6, 2_400_000)
    assert bench.scaling_turns(n_turns, 1) == max(n_turns * 6, 2_400_000) // 2


def test_records_in_the_same_second_are_distinct_files(bench, tmp_path):
    first = bench.write_record({"run": 1}, str(tmp_path))
    second = bench.write_record({"run": 2}, str(tmp_path))
    assert first != second
    assert json.load(open(first)) == {"run": 1}
    assert json.load(open(second)) == {"run": 2}


def test_a_record_name_clash_raises_instead_of_overwriting(bench, tmp_path, monkeypatch):
    class Frozen(datetime):
        @classmethod
        def now(cls, tz=None):
            return datetime(2026, 1, 1, tzinfo=tz)

    monkeypatch.setattr(bench, "datetime", Frozen)
    path = bench.write_record({"run": 1}, str(tmp_path))
    with pytest.raises(FileExistsError):
        bench.write_record({"run": 2}, str(tmp_path))
    assert json.load(open(path)) == {"run": 1}
    assert os.listdir(tmp_path) == [os.path.basename(path)]
