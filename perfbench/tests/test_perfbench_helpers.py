"""Self-tests of the benchmark's helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

from perfbench import metrics, rss, stats
from perfbench.trace import Span, Tracer, parse_event_log, self_time, spark_metrics

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ---- percentiles and sample counts ---------------------------------------

@pytest.mark.parametrize(
    "n, expected",
    [(1, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0), (1000, 99.0), (10_000, 99.9)],
)
def test_supported_percentile_leaves_ten_samples_beyond(n, expected):
    assert stats.supported_percentile(n) == expected


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert stats.percentile(values, 50) == 50
    assert stats.percentile(values, 90) == 90
    assert stats.percentile(values, 100) == 100
    assert stats.percentile([3.0], 99.9) == 3.0


def test_summarize_reports_count_median_max_and_tail():
    s = stats.summarize([4.0, 1.0, 3.0, 2.0])
    assert s == {"n": 4, "median": 2.5, "max": 4.0, "tail_p": None, "tail": None}
    s = stats.summarize([float(v) for v in range(100)])
    assert (s["n"], s["tail_p"], s["tail"]) == (100, 90.0, 89.0)


def test_ab_compare_applies_the_gain_and_regression_rules():
    from perfbench.ab import compare

    base = [10.0, 10.2, 9.9, 10.1, 10.3, 9.8, 10.0, 10.4, 9.7, 10.1]
    faster = [b * 0.8 for b in base]
    v = compare(base, faster, "lower", 0.2)
    assert v["head_wins"] == "10/10" and v["gain"] and not v["regression"]
    v = compare(base, [b * 1.3 for b in base], "lower", 0.2)
    assert v["head_wins"] == "0/10" and not v["gain"] and v["regression"]
    # within the base's own spread: neither a gain nor a regression
    v = compare(base, [b - 0.01 for b in base], "lower", 0.2)
    assert not v["gain"] and not v["regression"]
    v = compare([100.0] * 10, [90.0] * 10, "higher", 0.05)
    assert v["regression"] and v["head_wins"] == "0/10"


def test_geomean():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


# ---- process-tree memory --------------------------------------------------

def _fake_proc(root, procs):
    """procs: pid -> (ppid, state, pss_kb, starttime)."""
    for pid, (ppid, state, pss_kb, start) in procs.items():
        d = root / str(pid)
        d.mkdir()
        between = " ".join(["0"] * 17)  # fields 5-21, pgrp to itrealvalue
        fields = f"{state} {ppid} {between} {start} 0"
        (d / "stat").write_text(f"{pid} (a (b) c) {fields}\n")
        (d / "smaps_rollup").write_text(f"Rss: 1 kB\nPss: {pss_kb} kB\n")
    return str(root)


def test_descendants_walks_the_whole_tree(tmp_path):
    proc = _fake_proc(tmp_path, {
        1: (0, "S", 10, 1), 10: (1, "S", 100, 5), 11: (10, "S", 200, 6),
        12: (11, "S", 300, 7), 20: (1, "S", 999, 8),
    })
    assert sorted(rss.descendants(10, proc)) == [10, 11, 12]
    total, pids = rss.tree_resident_bytes(10, proc)
    assert total == (100 + 200 + 300) * 1024
    assert sorted(pids) == [10, 11, 12]


def test_start_time_parses_names_with_parentheses_and_skips_zombies(tmp_path):
    proc = _fake_proc(tmp_path, {5: (1, "S", 1, 4242), 6: (1, "Z", 1, 4243)})
    assert rss.start_time(5, proc) == 4242
    assert rss.start_time(6, proc) is None
    assert rss.start_time(7, proc) is None


def test_sampler_keeps_the_peak_and_the_processes_it_saw(tmp_path):
    proc = _fake_proc(tmp_path, {10: (1, "S", 100, 5), 11: (10, "S", 200, 6)})
    sampler = rss.PeakRssSampler(10, interval=0.01, proc=proc)
    sampler.sample()
    (tmp_path / "11" / "smaps_rollup").write_text("Pss: 50 kB\n")
    sampler.sample()
    assert sampler.peak_bytes == 300 * 1024
    assert sorted(sampler.still_alive()) == [10, 11]
    shutil.rmtree(tmp_path / "11")
    assert sampler.still_alive() == [10]


def test_tree_cpu_sums_own_and_reaped_children_time(tmp_path):
    def stat(pid, ppid, times):
        # fields after the name: state ppid, 9 more, utime stime cutime cstime, 4 more, starttime, ...
        fields = ["S", str(ppid)] + ["0"] * 9 + [str(t) for t in times] + ["0"] * 4 + ["7", "0"]
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(f"{pid} (x) y) {' '.join(fields)}\n")

    tick = rss.CLOCK_TICKS
    stat(10, 1, (tick, tick, 2 * tick, 0))  # 1 s user, 1 s system, 2 s of reaped children
    stat(11, 10, (3 * tick, 0, 0, tick))
    stat(20, 1, (50 * tick, 0, 0, 0))  # outside the tree
    assert rss.cpu_s(10, str(tmp_path)) == pytest.approx(4.0)
    assert rss.tree_cpu_s(10, str(tmp_path)) == pytest.approx(8.0)
    assert rss.cpu_s(99, str(tmp_path)) == 0.0


def test_tree_cpu_of_a_real_busy_child():
    child = subprocess.Popen([sys.executable, "-c", "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\ntime.sleep(30)"])
    try:
        deadline = time.monotonic() + 20
        while rss.cpu_s(child.pid) < 0.3 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert rss.tree_cpu_s(os.getpid()) >= rss.cpu_s(child.pid) >= 0.3
    finally:
        child.kill()
        child.wait(timeout=10)


def test_descendants_of_a_real_child():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in rss.descendants(os.getpid())
        assert rss.pss_bytes(child.pid) > 0
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.pid not in rss.descendants(os.getpid())


# ---- spans -----------------------------------------------------------------

def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, "op", 0.0, 10.0),
        Span(1, "a", 1.0, 4.0, parent=0),
        Span(2, "b", 3.0, 5.0, parent=0),  # overlaps a
        Span(3, "c", 8.0, 12.0, parent=0),  # runs past the parent
        Span(4, "grandchild", 1.0, 2.0, parent=1),
    ]
    assert self_time(spans[0], spans) == pytest.approx(10.0 - 4.0 - 2.0)
    assert self_time(spans[1], spans) == pytest.approx(2.0)


class FakeContext:
    """The SparkContext calls the tracer makes, with jobs 'submitted'
    under whatever group is current."""

    def __init__(self):
        self.props = {}
        self.jobs: dict[str, list[int]] = {}
        self.next_job = 0

    def setJobGroup(self, group, description):
        self.props["spark.jobGroup.id"] = group

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value

    def run_job(self):
        self.jobs.setdefault(self.props.get("spark.jobGroup.id"), []).append(self.next_job)
        self.next_job += 1

    def statusTracker(self):
        return self

    def getJobIdsForGroup(self, group):
        return list(self.jobs.get(group, []))


def test_job_groups_attribute_jobs_to_their_span_and_restore_the_outer_group():
    sc = FakeContext()
    tr = Tracer("run1", enabled=True)
    with tr.span("outer", sc) as outer:
        sc.run_job()
        with tr.span("inner", sc) as inner:
            sc.run_job()
            sc.run_job()
        sc.run_job()
    sc.run_job()  # after every span: no group
    assert inner.attrs["job_ids"] == [1, 2]
    assert outer.attrs["job_ids"] == [0, 3]
    assert inner.parent == outer.span_id and outer.parent is None
    assert {s.run_id for s in tr.spans} == {"run1"}
    assert "spark.jobGroup.id" not in sc.props


def test_disabled_tracer_times_spans_without_touching_spark():
    class Untouchable:
        def __getattr__(self, name):
            raise AssertionError(f"called {name}")

    tr = Tracer("run2", enabled=False)
    with tr.span("op", Untouchable()) as sp:
        time.sleep(0.01)
    assert sp.duration >= 0.01 and "job_ids" not in sp.attrs


def test_spans_written_as_json_lines(tmp_path):
    tr = Tracer("run3", enabled=False)
    with tr.span("a", rep=1):
        with tr.span("b"):
            pass
    path = tmp_path / "t.jsonl"
    tr.write_jsonl(str(path))
    rows = [json.loads(line) for line in path.read_text().splitlines()]
    assert [(r["name"], r["parent"], r["run_id"]) for r in rows] == [("a", None, "run3"), ("b", 0, "run3")]
    assert rows[0]["attrs"] == {"rep": 1} and rows[0]["end"] >= rows[1]["end"]
    assert rows[0]["self_s"] == pytest.approx(
        (rows[0]["end"] - rows[0]["start"]) - (rows[1]["end"] - rows[1]["start"])
    )


# ---- Spark event log -------------------------------------------------------

def _task_end(stage, launch, finish, run_ms, ok=True, shuffle_w=0, shuffle_r=(0, 0)):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Failed": not ok},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 500_000,
            "JVM GC Time": 10,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Shuffle Read Metrics": {"Remote Bytes Read": shuffle_r[0], "Local Bytes Read": shuffle_r[1]},
        },
    })


EVENT_LOG = [
    json.dumps({"Event": "SparkListenerApplicationStart", "App Name": "x"}),
    json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1]}),
    _task_end(0, 1000, 1100, 100, shuffle_w=2**20),
    _task_end(0, 1000, 1400, 400, shuffle_w=2**20),
    _task_end(0, 1000, 1200, 200, ok=False),
    _task_end(1, 1500, 1600, 100, shuffle_r=(2**19, 2**19)),
    # job 1 reuses stage 1's output: stage 2 is listed but skipped
    json.dumps({"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2, 3]}),
    _task_end(3, 2000, 2050, 50),
    json.dumps({"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [4]}),
    _task_end(4, 3000, 3010, 10),
]


def test_parse_event_log_groups_tasks_by_stage():
    jobs, stages = parse_event_log(EVENT_LOG)
    assert jobs == {0: [0, 1], 1: [2, 3], 2: [4]}
    assert sorted(stages) == [0, 1, 3, 4]
    s0 = stages[0]
    assert (s0.tasks, s0.failed_tasks, s0.wall_ms) == (3, 1, 400)
    assert s0.run_s == pytest.approx(0.7) and s0.cpu_s == pytest.approx(0.35)
    assert s0.shuffle_write_bytes == 2 * 2**20
    assert stages[1].shuffle_read_bytes == 2**20


def test_spark_metrics_for_the_jobs_of_one_span():
    jobs, stages = parse_event_log(EVENT_LOG)
    m = spark_metrics([0, 1], jobs, stages, wall_s=1.0, cores=4)
    assert (m["jobs"], m["stages"], m["tasks"], m["failed_tasks"]) == (2, 3, 5, 1)
    assert m["executor_run_s"] == pytest.approx(0.85)
    assert m["gc_s"] == pytest.approx(0.05)
    assert m["shuffle_write_mb"] == pytest.approx(2.0) and m["shuffle_read_mb"] == pytest.approx(1.0)
    assert m["busy_share"] == pytest.approx(0.85 / 4)
    # longest stage is stage 0: task times 100, 400, 200 ms
    assert m["task_skew"] == pytest.approx(400 / 200)
    assert spark_metrics([], jobs, stages, 1.0, 4)["stages"] == 0


# ---- the benchmark's contract --------------------------------------------

def test_benchmark_json_matches_the_metric_registry():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_run_without_the_package_fails_without_a_result(tmp_path):
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "lattice", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and p.stdout == ""
