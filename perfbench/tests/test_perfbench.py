"""Tests of the benchmark itself: seeded generation, digests, and a tiny
smoke run of every workload with all output checks on.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gen  # noqa: E402

SMOKE_SCALE = 0.05
SMOKE_SEED = 1


def test_transcripts_deterministic_per_seed():
    a, pa_ = gen.gen_transcripts(7, 500)
    b, pb = gen.gen_transcripts(7, 500)
    c, _ = gen.gen_transcripts(8, 500)
    assert a.equals(b) and pa_ == pb
    assert not a.equals(c)


def test_mix_is_exact_for_every_seed():
    for seed in (1, 2, 3):
        _, props = gen.gen_transcripts(seed, 1000)
        assert props["kinds"] == {
            "apple": 100, "java": 120, "js": 150, "malformed": 30, "metrickit": 50, "prose": 550,
        }
        assert 0 < props["udf_share"] < 1


def test_large_artifacts_deterministic(tmp_path):
    sizes = {"sm_tokens": 200, "pg_ranges": 30, "dsym_symbols": 100}

    def render(seed, name):
        d = gen.write_large_artifacts(seed, str(tmp_path / name), sizes)
        out = {}
        for k, path in d.items():
            for f in sorted(os.listdir(path)):
                with open(os.path.join(path, f), "rb") as fh:
                    out[f"{k}/{f}"] = fh.read()
        return d, out

    d1, a = render(1, "a")
    _, b = render(1, "b")
    _, c = render(2, "c")
    assert a == b and a != c
    props = gen.store_properties(gen.large_store_tables(d1))
    assert props["max_tokens_per_line"] == 200
    assert props["max_ranges_per_method"] == 30
    assert props["max_symbols_per_binary"] == 100


def test_vlq_round_trip():
    from symspark.sources.sourcemap_build import vlq_decode

    for v in (0, 1, -1, 15, 16, -16, 1023, -123456, 10**7):
        assert vlq_decode(gen.vlq(v)) == [v]


def test_key_digest_is_order_independent_and_stable():
    keys = [("c1", 0), ("c1", 1), ("c2", 0)]
    assert gen.key_digest(keys) == gen.key_digest(reversed(keys))
    assert gen.key_digest(keys) != gen.key_digest(keys[:2] + [("c2", 1)])
    # a digest depends only on the bytes of the keys: pinned values
    assert gen.row_hash("c1", 0) == 0x7168B63532BF61E
    assert gen.key_digest(keys) == "3:1314046272821781545"


def test_checker_needs_the_batch_pipeline_output_for_an_unrecorded_seed():
    import harness

    summary = {"per_sink": {"js/ok": dict.fromkeys(harness.COUNTERS, 1)}, "rows": 1, "rows_with_sink": 1,
               "key_digest": "1:5", "digest": "1:9", "groups": {}}
    checker = harness.Checker("no-such-workload|0|1", "1:5")
    assert checker.recorded is None
    assert checker.check("op", summary) and not checker.failures
    assert checker.check_reference(harness.fingerprint(summary))
    other = dict(summary, digest="1:8")
    assert not checker.check_reference(harness.fingerprint(other))
    assert checker.failures


def test_watchdog_cancels_only_a_late_block():
    import time

    import harness

    calls = []
    with harness.watchdog(5, lambda: calls.append(1)) as wd:
        pass
    assert not wd["fired"] and not calls
    with harness.watchdog(0.05, lambda: calls.append(1)) as wd:
        time.sleep(0.3)
    assert wd["fired"] and calls


def _run(args, cwd, timeout=600):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        capture_output=True, text=True, timeout=timeout, cwd=cwd,
    )


@pytest.mark.parametrize("workload", ["batch_mixed", "large_stores", "microbatch"])
def test_smoke_run_passes_checks(workload):
    r = _run(["--workload", workload, "--seed", str(SMOKE_SEED), "--seconds", "1", "--trace", "0",
              "--scale", str(SMOKE_SCALE)], ROOT)
    assert r.returncode == 0, r.stderr[-3000:]
    context, result = (json.loads(x) for x in r.stdout.strip().splitlines()[-2:])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, context["check_failures"]
    assert result["attempted"] >= 2
    # the output fingerprint for this seed and scale is recorded and matched
    assert context["fingerprint_recorded"], context["fingerprint"]
    for m in result["metrics"].values():
        assert m["value"] > 0


def test_unrecorded_seed_is_checked_against_the_batch_pipeline():
    seed = 1000
    r = _run(["--workload", "large_stores", "--seed", str(seed), "--seconds", "1", "--trace", "0",
              "--scale", str(SMOKE_SCALE)], ROOT)
    assert r.returncode == 0, r.stderr[-3000:]
    context, result = (json.loads(x) for x in r.stdout.strip().splitlines()[-2:])
    assert not context["fingerprint_recorded"]
    assert result["correct"] and result["failed"] == 0, context["check_failures"]
    with open(os.path.join(ROOT, ".perfbench_work", "results",
                           f"spans-large_stores-seed{seed}-trace0.json")) as f:
        assert "check.batch_reference" in {s["name"] for s in json.load(f)["spans"]}


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    r = _run(["--workload", "microbatch", "--seed", "1", "--seconds", "1", "--trace", "0"], str(tmp_path), 60)
    assert r.returncode != 0
    assert r.stdout.strip() == ""
