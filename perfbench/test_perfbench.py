"""Tests of the benchmark itself: seeded inputs, the correctness check, and
the metric names it prints against BENCHMARK.json.

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pytest

from perfbench import run, workloads
from perfbench.workloads import WORKLOADS, Workload

ROOT = Path(__file__).resolve().parent.parent


def _inputs(name: str, seed: int, tmp: Path):
    wl = Workload(name, WORKLOADS[name], seed)
    inps = wl.generate()
    wl.write_inputs(inps, tmp)
    wl.set_expected(inps)
    files = {p.name: p.read_bytes() for p in sorted(tmp.iterdir())}
    return inps, files, [s.exp for s in wl.stages]


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_same_inputs_and_hash(name, tmp_path):
    inps_a, files_a, exp_a = _inputs(name, 7, tmp_path / "a")
    inps_b, files_b, exp_b = _inputs(name, 7, tmp_path / "b")
    assert files_a == files_b
    assert [i["rows"] for i in inps_a] == [i["rows"] for i in inps_b]
    assert exp_a == exp_b
    inps_c, files_c, exp_c = _inputs(name, 8, tmp_path / "c")
    assert files_c != files_a
    assert [i["rows"] for i in inps_c] != [i["rows"] for i in inps_a]
    assert exp_c != exp_a


def test_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert spec["run_seconds"] == run.RUN_SECONDS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for key, printed in (("end_to_end", run.END_TO_END),
                         ("per_layer", run.per_layer_units())):
        listed = {m["name"]: m["unit"] for m in spec[key]}
        assert listed == printed, key
        assert all(m["better"] in ("lower", "higher") for m in spec[key])
    units = run.per_layer_units()
    for name in WORKLOADS:
        assert set(Workload(name, WORKLOADS[name], 1).required) <= set(units)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = run.start_session(tmp_path_factory.mktemp("spark"), 2)
    yield s
    run.stop_jvm(s)


def test_one_character_change_fails_check(spark, tmp_path, monkeypatch):
    monkeypatch.setitem(workloads.SIZES, "gencode", {"docs": 200, "duplicate_ratio": 0.1})
    wl = Workload("gencode_job", WORKLOADS["gencode_job"], 3)
    inps = wl.generate()
    wl.write_inputs(inps, tmp_path / "input")
    wl.open(spark, inps)
    wl.set_expected(inps)
    out = tmp_path / "out"
    off = run.Tracer(spark.sparkContext, wl.name, "", False)
    wl.op(spark, out, off)
    assert wl.check(spark, out) == []

    want = wl.stages[0].exp["atoms"]
    copy = tmp_path / "metta-copy"
    shutil.copytree(out / "metta", copy)
    assert workloads.check_atoms(spark, copy, want) == []
    part = next(p for p in sorted(copy.glob("part-*")) if p.stat().st_size)
    text = part.read_text()
    i = text.index("ENSG") + 4
    part.write_text(text[:i] + ("1" if text[i] != "1" else "2") + text[i + 1:])
    for crc in copy.glob(".*.crc"):
        crc.unlink()
    assert workloads.check_atoms(spark, copy, want) != []
