"""BENCHMARK.json against the runner, and the steadiness arithmetic."""

import json
import re
from pathlib import Path

import pytest

from kgbench import check, run, steady

BENCH = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_keys_and_limits():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert BENCH["paths"] == ["kgbench"]
    assert 1 <= BENCH["run_seconds"] <= 60
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in BENCH[k]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(m["bound"] <= 0.25 for m in BENCH["end_to_end"])
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])
    assert len(BENCH["per_layer"]) <= 128


def test_metrics_match_runner():
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == run.PER_LAYER


def test_spread_and_worse_by():
    assert steady.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(
        (8.25 - 2.75) / 5.5
    )
    assert steady.worse_by(10.0, 11.0, "lower") == pytest.approx(0.1)
    assert steady.worse_by(10.0, 11.0, "higher") == pytest.approx(-0.1)


def test_sets_agree_in_both_directions():
    assert steady.agree(10.0, 12.0, 0.25)
    assert steady.agree(10.0, 8.0, 0.25)
    assert not steady.agree(10.0, 13.0, 0.25)
    # a second set much better than the first is as suspect as a worse one
    assert not steady.agree(10.0, 4.0, 0.25)


def test_hygiene_errors():
    a, b, c = "https://a.example/p/1", "https://a.example/p/2", "https://a.example/p/3"
    assert check.hygiene_errors([a, b], {a, b}) == []
    assert len(check.hygiene_errors([a, b, c], {a, b})) == 1  # kept one to drop
    assert len(check.hygiene_errors([a], {a, b})) == 1  # dropped one to keep
    assert len(check.hygiene_errors([], {a, b})) == 1  # a pass that drops everything
    assert len(check.hygiene_errors([a, a, b], {a, b})) == 1  # kept twice
