"""Self-tests of the benchmark (not part of the package's test suite).

    python3 -m pytest perfbench/tests -q

The plumbing tests start Spark and take a few minutes; the contract and
steadiness-check tests are pure Python.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
import spans  # noqa: E402
import steady  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec() -> dict:
    return steady.load_spec(ROOT)


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def result(proc: subprocess.CompletedProcess) -> dict:
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["attempted"] >= 1
    return out


def assert_metrics(out: dict, expected: list[dict]) -> None:
    got = out["metrics"]
    assert set(got) == {m["name"] for m in expected}
    for m in expected:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float))


def test_spec_shape():
    s = spec()
    assert set(s) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert 2 <= len(s["workloads"]) <= 8
    assert 1 <= len(s["end_to_end"]) <= 16
    assert 1 <= len(s["per_layer"]) <= 128
    names = [w["name"] for w in s["workloads"]] + [
        m["name"] for m in s["end_to_end"] + s["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in s["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert UNIT.match(m["unit"]) and 0 < m["bound"] <= 0.25
    for m in s["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    setup = next(m for m in s["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in s["end_to_end"])
    assert len(json.dumps(s)) < 64 * 1024


def _summary(values_by_metric: dict[str, list[float]]) -> dict:
    runs = [{"metrics": {k: {"value": v[i]} for k, v in
                         values_by_metric.items()}}
            for i in range(len(next(iter(values_by_metric.values()))))]
    return steady.summarize(runs, spec())


def test_steadiness_check_flags_spread_and_regression():
    names = [m["name"] for m in spec()["end_to_end"]]
    flat = {n: [10.0, 10.1, 9.9, 10.05, 9.95] for n in names}
    first = _summary(flat)
    assert all(r["ok"] and r["steady"] for r in first.values())

    noisy = dict(flat, run_s=[5.0, 10.0, 15.0, 20.0, 8.0])
    assert not _summary(noisy)["run_s"]["ok"]
    # setup_s spread is reported but never gates
    assert _summary(dict(flat, setup_s=[5.0, 10.0, 15.0, 20.0, 8.0])
                    )["setup_s"]["ok"]

    slower = _summary({n: [v * 1.5 for v in vals]
                       for n, vals in flat.items()})
    verdict = steady.compare(first, slower, spec())
    assert not any(r["ok"] for r in verdict.values())
    assert all(r["ok"] for r in steady.compare(first, first, spec()).values())


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench("--workload", "query_mix", "--seed", "1", "--seconds", "1",
                 "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


def test_query_mix_prints_every_end_to_end_metric():
    proc = bench("--workload", "query_mix", "--seed", "3", "--seconds", "1",
                 "--trace", "0")
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = result(proc)
    assert out["correct"] and out["failed"] == 0
    assert_metrics(out, spec()["end_to_end"])
    assert all(m["value"] > 0 for m in out["metrics"].values())


def test_query_mix_traced_run_sees_the_harness_and_no_runner():
    proc = bench("--workload", "query_mix", "--seed", "3", "--seconds", "1",
                 "--trace", "1")
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = result(proc)
    assert_metrics(out, spec()["per_layer"])
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["harness.build_s"] > 0 and m["harness.action.jobs"] > 0
    assert m["llm.ckpt.calls"] > 0
    assert m["plans.runner.write_s"] == 0 and m["plans.runner.skipped"] == 0
    assert m["sources.io.files_written"] == 0


def test_domain_dag_traced_run_prints_every_per_layer_metric():
    proc = bench("--workload", "domain_dag", "--seed", "3", "--seconds", "1",
                 "--trace", "1")
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = result(proc)
    assert_metrics(out, spec()["per_layer"])
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["plans.runner.skipped"] == 5
    assert m["llm.ckpt.calls"] == 0 and m["harness.build_s"] == 0
    assert m["plans.runner.write_s"] > 0 and m["engine.jobs"] > 0


# -- the output checks themselves, in process ------------------------------

@pytest.fixture(scope="module")
def session():
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pinned = run.pin_environment(work, run.host_info())
    spark = run.start_session("perfbench-selftest", pinned)
    yield spark, work
    run.stop_session(spark)
    shutil.rmtree(work, ignore_errors=True)


def _rewrite(path: str, column: str, factor: float) -> None:
    """Scale one numeric column of a parquet artifact in place."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    i = t.column_names.index(column)
    t = t.set_column(i, column, pc.multiply(t.column(i), factor))
    for f in os.listdir(path):
        os.remove(os.path.join(path, f))
    pq.write_table(t, os.path.join(path, "part-0.parquet"))


def test_query_mix_check_fails_on_a_wrong_result(session):
    spark, work = session
    wl = workloads.QueryMix(spark, spans.Tracer("t"), work, 5,
                            run.QUERY_MIX_SF)
    wl.setup()
    assert all(wl.check())
    q = workloads.QUERY_MIX[0]
    cols, n, h = wl.expected[q]
    wl.expected[q] = (cols, n, h[::-1])
    ok = wl.check()
    assert ok.count(False) == 1 and not ok[0]


def test_domain_dag_check_fails_on_a_wrong_artifact(session):
    spark, work = session
    wl = workloads.DomainDag(spark, spans.Tracer("t"), work, 5,
                             run.DOMAIN_BOATS)
    wl.setup()
    wl.round()
    assert all(wl.check())
    # a public_nutrients value off by 0.1 %, against the DuckDB oracle
    nutr = [p for st, p, _v in wl.outputs if st == "public_nutrients"]
    _rewrite(nutr[-1], "people_rdi", 1.001)
    assert wl.check().count(False) == 1
    # an estimated artifact that differs from the first one written
    est = [p for st, p, _v in wl.outputs if st == "estimated"]
    _rewrite(est[-1], "catch", 2.0)
    assert wl.check().count(False) == 2
