"""Tests of the benchmark itself: its printed names match BENCHMARK.json, a
wrong output fed to each checker counts as a failure, /proc memory sampling
finds the Spark driver JVM, and a run without the program fails.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, procmem, run, trace  # noqa: E402
from perfbench.workloads import CurationDocs, ReportsBatch, frame_hash  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_printed_names_match_benchmark_json():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == trace.per_layer_units()
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert set(inputs.GENERATORS) == set(inputs.PARAMS) == set(WORKLOADS)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert run.tail([float(i) for i in range(1, 101)]) == (90.0, 90.0, 10)
    assert run.tail([float(i) for i in range(1, 21)]) == (10.0, 50.0, 10)
    assert run.tail([1.0, 3.0, 2.0]) == (3.0, 100.0, 0)


@pytest.fixture(scope="module")
def reports(tmp_path_factory):
    """A ReportsBatch over a 40-conversation seeded input."""
    d = tmp_path_factory.mktemp("rb")
    tdir = d / "transcripts.parquet"
    tdir.mkdir()
    pq.write_table(inputs._transcripts(7, 40, "t"), str(tdir / "part-0000.parquet"))
    inputs._write_dims(str(d))
    return ReportsBatch(str(d), str(d / "out"))


def _golden_rows(name: str, golden) -> list[dict]:
    g = golden[name]
    if name == "yields":
        return [{"level": lv, "grain": gr, "ok": ok, "nok": nok} for (lv, gr), (ok, nok) in g.items()]
    if name == "limit_changes":
        return [{"step": s} for s in g]
    raise KeyError(name)


def _raises(check, value) -> bool:
    try:
        check(value)
    except AssertionError:
        return True
    return False


def test_reports_checkers_reject_wrong_outputs(reports):
    g = reports.golden
    rows = _golden_rows("yields", g)
    assert not _raises(reports._check_golden("yields"), rows)
    rows[0] = dict(rows[0], ok=rows[0]["ok"] + 1)
    assert _raises(reports._check_golden("yields"), rows)
    steps = _golden_rows("limit_changes", g)
    assert _raises(reports._check_golden("limit_changes"), steps + [{"step": "zzz"}])

    counts = {k: g[k] for k in ("steps", "runs", "fails")}
    assert not _raises(reports._check_materialize, counts)
    assert _raises(reports._check_materialize, dict(counts, steps=counts["steps"] - 1))

    assert not _raises(reports._check_days, list(g["days"]))
    assert _raises(reports._check_days, list(g["days"])[:-1])
    assert not _raises(reports._check_idle, [])
    assert _raises(reports._check_idle, [g["days"][-1]])

    stable = reports._check_stable("mb_results")
    assert not _raises(stable, [{"a": 1}])
    assert _raises(stable, [{"a": 2}])  # differs from the first pass
    assert _raises(reports._check_stable("failed_boards"), [])


def test_routed_store_checker(reports, tmp_path):
    # one routed file holding every step row under one route_key is wrong
    bad = tmp_path / "route_key=alpha" / "day=2024-03-01"
    bad.mkdir(parents=True)
    n = reports.golden["steps"]
    import pyarrow as pa

    pq.write_table(pa.table({"x": list(range(n))}), str(bad / "part-0.parquet"))
    assert _raises(reports._check_routed, str(tmp_path))


def test_curation_checker_rejects_wrong_output(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    inputs._gen_curation_docs(3, str(d))
    w = CurationDocs(str(d), str(tmp_path / "out"))
    good = w.oracle().con.execute(w.oracle().sql["unigram_logprob"]).df()
    check = w._check("unigram_logprob", "unigram_logprob")
    bad = good.copy()
    bad.iloc[0, bad.columns.get_loc("doc_id")] = -1
    assert _raises(w._check("unigram_logprob", "first"), bad)  # against the oracle
    assert not _raises(check, good)
    assert _raises(check, bad)  # a later pass must hash-equal the checked one
    assert frame_hash(good) == frame_hash(good.iloc[::-1])


def test_failed_check_counts_as_failed_operation():
    class _Ctx:
        sparkContext = None

    ops = run.Ops(_Ctx(), traced=False)
    ops.k = 0

    def bad(_out):
        raise AssertionError("wrong")

    ops("pipeline", "yields", lambda: 1, bad)
    ops("pipeline", "hourly_stats", lambda: 1 / 0)
    ops("pipeline", "mb_results", lambda: 1, lambda _out: None)
    ops.run_checks()
    assert [r["ok"] for r in ops.records] == [False, False, True]


def test_proc_memory_sampling_finds_the_jvm():
    from pyspark.java_gateway import launch_gateway

    gateway = launch_gateway()
    try:
        jvms = procmem.find_jvms()
        assert jvms and gateway.proc.pid in jvms or any(p in jvms for p in procmem.descendants(gateway.proc.pid))
        assert all(procmem.vm_hwm_kb(p) > 10_000 for p in jvms)
        assert procmem.peak_rss_mb() > procmem.vm_hwm_kb(os.getpid()) / 1024.0
    finally:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def test_refuses_to_run_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, a run fails
    without printing a result."""
    import shutil
    import subprocess

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    cmd = [sys.executable, "perfbench/run.py", "--workload", "reports_batch", "--seed", "1", "--seconds", "1", "--trace", "0"]
    p = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert p.returncode != 0
    assert p.stdout == ""
