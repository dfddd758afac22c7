"""Self-tests of the benchmark (not of the engine).

    python -m pytest perfbench/tests -q

The Spark tests share one small session and run every workload at a
tiny size, untraced and traced; the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import re
from pathlib import Path
from types import SimpleNamespace

import pytest

from perfbench import harness, run, trace
from perfbench.frontier_wave import BUDGET, FrontierInputs, wave_problems
from perfbench.outcome import Outcome
from perfbench.site_crawl import build_graph, crawl_problems

BENCHMARK = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

TINY_FRONTIER = 20_000
TINY_PAGES = 300


# ---------------------------------------------------------------------------
# BENCHMARK.json agrees with the code
# ---------------------------------------------------------------------------

def test_benchmark_json_shape():
    assert set(BENCHMARK) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert BENCHMARK["command"] == ["python3", "perfbench/run.py"]
    assert BENCHMARK["paths"] == ["perfbench"]
    assert 1 <= BENCHMARK["run_seconds"] <= 60
    names = [w["name"] for w in BENCHMARK["workloads"]]
    names += [m["name"] for m in BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME_RE.match(name), name
    for w in BENCHMARK["workloads"]:
        assert set(w) == {"name", "why"} and 0 < len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in BENCHMARK["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in BENCHMARK["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in BENCHMARK["end_to_end"])
    for m in BENCHMARK["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]:
        assert UNIT_RE.match(m["unit"]) and m["better"] in ("lower", "higher"), m


def test_benchmark_json_matches_code():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]} == run.E2E_UNITS
    assert [m["name"] for m in BENCHMARK["per_layer"]] == trace.per_layer_names()
    for m in BENCHMARK["per_layer"]:
        assert m["unit"] == trace.unit_of(m["name"])


# ---------------------------------------------------------------------------
# seeded inputs
# ---------------------------------------------------------------------------

def test_frontier_inputs_follow_the_seed():
    assert FrontierInputs.from_seed(5) == FrontierInputs.from_seed(5)
    assert FrontierInputs.from_seed(5) != FrontierInputs.from_seed(6)
    a, b = FrontierInputs.from_seed(5, 4000), FrontierInputs.from_seed(6, 4000)
    assert a.expected_scheduled() == FrontierInputs.from_seed(5, 4000).expected_scheduled()
    assert a.expected_scheduled() != b.expected_scheduled()


def _pages(graph):
    return [(p.url, p.http_status, p.content_type, p.body) for p in graph["pages"]]


def test_crawl_inputs_follow_the_seed():
    a, b = build_graph(5, TINY_PAGES), build_graph(6, TINY_PAGES)
    assert _pages(a) == _pages(build_graph(5, TINY_PAGES))
    assert a["seeds_rows"] == build_graph(5, TINY_PAGES)["seeds_rows"]
    assert _pages(a) != _pages(b)


# ---------------------------------------------------------------------------
# wrong results are failures
# ---------------------------------------------------------------------------

def test_frontier_wrong_schedule_is_a_problem():
    inputs = FrontierInputs.from_seed(3, 4000)
    good = inputs.expected_scheduled()
    n = sum(good.values())
    assert wave_problems(inputs, good, n, 0) == []
    dropped = dict(good)
    dom = next(iter(dropped))
    dropped[dom] -= 1
    assert wave_problems(inputs, dropped, n - 1, 0)
    assert wave_problems(inputs, good, n, 1)  # a scheduled URL already seen
    over = dict(good, **{dom: BUDGET + 1})
    assert wave_problems(inputs, over, sum(over.values()), 0)


class _Oracle:
    scheduled_per_wave = [4, 10]
    seen = {"https://a.gov/", "https://a.gov/p/1"}
    emitted = {"https://a.gov/"}
    documents = 1


def test_crawl_wrong_result_is_a_problem():
    o = _Oracle()
    assert crawl_problems(o, [1, 1, 0], [4, 10], set(o.seen), set(o.emitted), 1) == []
    assert crawl_problems(o, [1, 1, 0], [4, 9], set(o.seen), set(o.emitted), 1)
    assert crawl_problems(o, [1, 1, 0], [4, 10], {"https://a.gov/"}, set(o.emitted), 1)
    assert crawl_problems(o, [1, 1, 0], [4, 10], set(o.seen), set(), 0)
    assert crawl_problems(o, [1, 2, 0], [4, 10], set(o.seen), set(o.emitted), 1)


def test_outcome_counts_failures():
    out = Outcome()
    out.record([])
    out.record(["wrong"])
    assert (out.attempted, out.failed) == (2, 1)


# ---------------------------------------------------------------------------
# Spark: tiny smoke runs
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def session():
    work = harness.Workdir("selftest")
    harness.prepare_environment(work)
    spark, _ = harness.start_session(work, event_log=True)
    yield spark, work
    harness.stop_session(spark)
    work.remove()


def test_frontier_candidates_follow_the_seed(session):
    spark, _ = session
    rows = lambda seed: FrontierInputs.from_seed(seed, 500).candidates(spark).collect()  # noqa: E731
    assert rows(5) == rows(5)
    assert rows(5) != rows(6)


def test_frontier_wave_smoke(session):
    from perfbench import frontier_wave

    spark, _ = session
    out = frontier_wave.run(spark, seed=1, seconds=0, n=TINY_FRONTIER)
    assert out.attempted >= frontier_wave.MIN_WAVES and out.failed == 0, out.problems
    assert set(out.e2e) == {"op_cpu_s", "urls_per_cpu_s"} and all(v > 0 for v in out.e2e.values())
    assert out.setup_cpu_s > 0


def test_frontier_dropped_row_is_a_failure(session, monkeypatch):
    from perfbench import frontier_wave

    spark, _ = session
    real = frontier_wave.run_wave

    def drop_one(*args, **kwargs):
        wave = real(*args, **kwargs)
        first = wave.scheduled.limit(1).collect()[0]["url_hash"]
        wave.scheduled = wave.scheduled.filter(wave.scheduled.url_hash != first).cache()
        wave.n_scheduled -= 1
        return wave

    monkeypatch.setattr(frontier_wave, "run_wave", drop_one)
    out = frontier_wave.run(spark, seed=2, seconds=0, n=TINY_FRONTIER)
    assert out.attempted >= 1 and out.failed == out.attempted


def test_frontier_wave_traced_smoke(session):
    from perfbench import frontier_wave

    spark, work = session
    tracer = trace.Tracer(spark, "selftest-frontier")
    out = frontier_wave.run(spark, seed=1, seconds=0, tracer=tracer, n=TINY_FRONTIER)
    # warm-up waves, then untraced and traced waves alternate, MIN_WAVES of each
    expected = frontier_wave.WARMUP_WAVES + 2 * frontier_wave.MIN_WAVES
    assert out.attempted == expected and out.failed == 0, out.problems
    m = trace.roll_up(tracer, trace.read_event_log(work.path / "events"), trace.OP)
    assert m["functions.urls.canonicalize_s"] > 0 and m["operators.politeness.schedule_s"] > 0
    assert m["operators.dedup.bloom_flagged_ratio"] > 0
    # schedule_wave is lazy: its work runs in the wrapper's materializing
    # count, which adds tasks to the layer but no job
    assert m["operators.politeness.spark.tasks"] > 0 and m["spark.jobs"] > 0
    assert out.layer["trace.untraced_op_s"] > 0 and out.layer["trace.traced_op_s"] > 0


def test_site_crawl_smoke_traced(session):
    from perfbench import site_crawl

    spark, work = session
    tracer = trace.Tracer(spark, "selftest-crawl")
    out = site_crawl.run(spark, work, seed=1, seconds=0, tracer=tracer, n_pages=TINY_PAGES)
    # one first leg, resumed from two copies of its checkpoint: untraced and traced
    assert out.attempted == 2 and out.failed == 0, out.problems
    jobs = trace.read_event_log(work.path / "events")
    assert any(j["description"] == trace.MATERIALIZE for j in jobs)
    m = trace.roll_up(tracer, jobs, trace.OP)
    assert m["spark.jobs"] > 0 and m["spark.tasks"] > m["spark.jobs"]
    assert m["plans.crawl.spark_jobs_per_wave"] > 0
    assert m["plans.crawl.waves"] == site_crawl.DEPTH_LIMIT + 1 - site_crawl.INTERRUPT_AFTER
    assert m["sources.state.write_s"] > 0 and m["operators.extraction.extract_s"] > 0
    assert 0 < m["plans.crawl.orchestration_s"] < m["plans.crawl.wave_p50_s"] * m["plans.crawl.waves"]
    assert out.layer["plans.crawl.resume_s"] > 0


# ---------------------------------------------------------------------------
# process-tree CPU time
# ---------------------------------------------------------------------------

def test_meter_counts_cpu_of_exited_children():
    import subprocess
    import sys

    meter = harness.Meter()
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
    subprocess.run([sys.executable, "-c", burn], check=True)
    cost = meter.read()
    assert cost.cpu_s >= 0.45 and cost.wall_s >= 0.45


# ---------------------------------------------------------------------------
# tracing plumbing without Spark
# ---------------------------------------------------------------------------

def test_event_log_counters_are_attributed_to_job_groups(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 5000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": 10}, "Disk Bytes Spilled": 3}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Metrics": {"Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2}}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 6000, "Stage IDs": [2],
         "Properties": {}},
    ]
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (app / "appstatus_local-1").write_text("")
    jobs = trace.read_event_log(tmp_path)
    assert jobs == [
        {"job": 0, "group": "g", "description": None, "submitted": 5.0,
         "tasks": 2, "failed_tasks": 1, "shuffle_bytes": 13, "spill_bytes": 3},
        {"job": 1, "group": None, "description": None, "submitted": 6.0,
         "tasks": 0, "failed_tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0},
    ]


def test_missing_event_log_is_an_error(tmp_path):
    with pytest.raises(FileNotFoundError):
        trace.read_event_log(tmp_path)


class _NoSparkContext:
    def setJobGroup(self, *args):
        pass

    def setLocalProperty(self, *args):
        pass


def test_materializing_jobs_add_tasks_but_no_jobs():
    tracer = trace.Tracer(SimpleNamespace(sparkContext=_NoSparkContext()), "t")
    with tracer.span(trace.OP):
        with tracer.span("operators.dedup.dedupe_against_seen") as sp:
            pass
        tracer.add_span(trace.WAVE, sp.start, sp.end)

    def job(n, description):
        return {"job": n, "group": tracer.group(sp.id), "description": description, "submitted": sp.start,
                "tasks": 4, "failed_tasks": 0, "shuffle_bytes": 10, "spill_bytes": 0}

    m = trace.roll_up(tracer, [job(0, sp.name), job(1, trace.MATERIALIZE)], trace.OP)
    assert m["operators.dedup.spark.jobs"] == 1 and m["operators.dedup.spark.tasks"] == 8
    assert m["spark.jobs"] == 1 and m["spark.shuffle_bytes"] == 20
    assert m["plans.crawl.spark_jobs_per_wave"] == 1


def test_orchestration_is_wave_time_outside_layer_spans():
    assert trace._covered([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert trace._covered([(1, 3)], 2, 10) == 1
    assert trace._covered([(4, 6)], 0, 3) == 0
    assert trace._covered([(0, 5), (1, 2)], 0, 3) == 3


def test_bare_benchmark_directory_fails_without_a_result(tmp_path):
    import shutil
    import subprocess
    import sys

    root = Path(__file__).resolve().parents[2]
    shutil.copy(root / "BENCHMARK.json", tmp_path)
    shutil.copytree(root / "perfbench", tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "frontier_wave", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and '"correct"' not in p.stdout
