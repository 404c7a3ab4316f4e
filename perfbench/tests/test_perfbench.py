"""The benchmark's own tests: tiny-corpus runs of every workload through
the oracle check, a traced run, and a negative case where one
corrupted output row must count as a failed job.

    python3 -m pytest perfbench/tests -q      # ~5 min, starts Spark 5x
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(*args: str) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--size", "tiny",
         "--seed", "3", "--seconds", "0", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


# pdf_layout runs by hand only (see README.md) but must keep working
@pytest.mark.parametrize(
    "workload", [w["name"] for w in SPEC["workloads"]] + ["pdf_layout"])
def test_smoke_passes_the_check(workload):
    res = run("--workload", workload, "--trace", "0")
    assert res["correct"], res
    assert res["failed"] == 0 and res["attempted"] >= 2
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_reports_layers_and_spans():
    res = run("--workload", "recrawl_resume", "--trace", "1")
    assert res["correct"], res
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    with open(os.path.join(ROOT, ".perfbench", "traces",
                           "recrawl_resume-seed3.json")) as f:
        spans = json.load(f)["spans"]
    names = {s["name"] for s in spans}
    assert {"plans.pipeline.run_extraction_job",
            "sources.catalog.overwrite_partitions",
            "extractor.core.extract_bytes"} <= names
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        assert s["start"] <= s["end"]
        if s["parent"] is not None:
            parent = by_id[s["parent"]]
            assert parent["trace"] == s["trace"]
            assert parent["start"] <= s["start"] <= s["end"] <= parent["end"]


def test_one_perturbed_row_fails_every_job():
    res = run("--workload", "crawl_extract", "--trace", "0",
              "--perturb-one-row")
    assert not res["correct"]
    assert res["attempted"] >= 2 and res["failed"] == res["attempted"]


def test_winner_tie_break_matches_the_job_contract():
    from corpus import winners

    t = int(dt.datetime(2024, 1, 2).timestamp() * 1e6)
    rows = [("u", None, b"a", "en"), ("u", t, b"b", "en"),
            ("u", t, b"a", "ko"), ("u", t - 1, b"0", "en"),
            ("v", None, b"z", "en"), ("v", None, b"y", "en")]
    assert winners(rows) == [("u", t, b"a", "ko"), ("v", None, b"y", "en")]


def test_golden_covers_every_workload():
    with open(os.path.join(BENCH, "golden.json")) as f:
        golden = json.load(f)
    assert {w["name"] for w in SPEC["workloads"]} <= golden.keys()
