"""Tests of the benchmark's own arithmetic (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys
import threading
import time

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import corpus_queries, spans, stats  # noqa: E402
from perfbench.spans import Span  # noqa: E402


# -- statistics ----------------------------------------------------------------

def test_median_with_its_sample_count():
    assert stats.median([5.0, 1.0, 3.0, 2.0, 4.0]) == 3.0
    assert stats.median([1.0, 2.0]) == 1.5
    assert stats.median([7.0]) == 7.0
    with pytest.raises(ValueError):
        stats.median([])


def test_end_to_end_metrics_from_a_run_record():
    from perfbench import run

    raw = {"setup_fixture_s": 1.0, "warmup_s": 4.0, "op_cpus": [9.0, 7.0, 8.0, 6.0]}
    got = run.end_to_end(raw, session_s=7.0, peak_rss_mb=900.0)
    assert got == {"setup_s": 12.0, "op_cpu_s": 7.5, "peak_rss_mb": 900.0}
    assert set(got) == set(run.END_TO_END_UNITS)


def test_process_tree_facts_count_this_process_and_its_children():
    import subprocess

    child = subprocess.Popen([sys.executable, "-c", "while True: pass"])
    try:
        t0 = time.time()
        while time.time() - t0 < 0.5:
            pass  # burn CPU in this process too
        time.sleep(0.5)
        assert stats.tree_cpu_s() > stats.tree_cpu_s(child.pid) > 0.2
        assert stats.tree_peak_rss_mb() > stats.tree_peak_rss_mb(child.pid) > 1.0
    finally:
        child.kill()
        child.wait(timeout=10)
    assert stats.nproc() >= 1


# -- spans: self time --------------------------------------------------------------

def test_union_length_merges_overlaps_once():
    assert spans.union_length([]) == 0.0
    assert spans.union_length([(0, 1), (2, 3)]) == 2.0
    assert spans.union_length([(0, 2), (1, 3)]) == 3.0
    assert spans.union_length([(0, 10), (1, 2), (3, 4)]) == 10.0
    assert spans.union_length([(3, 4), (0, 1), (0.5, 3.5)]) == 4.0


def test_self_time_subtracts_direct_children_only():
    wave = Span("w", "crawl.wave", 0.0, 10.0, 1)
    rank = Span("r", "frontier.politeness_rank", 1.0, 2.0, 1)
    dense = Span("d", "seq.dense_index", 3.0, 6.0, 1)
    inner = Span("i", "inner", 4.0, 5.0, 1)  # inside dense_index
    all_ = [rank, inner, dense, wave]
    assert spans.parents(all_) == {"w": None, "r": "w", "d": "w", "i": "d"}
    got = spans.self_pieces(all_)
    assert got["w"] == [(0.0, 1.0), (2.0, 3.0), (6.0, 10.0)]
    assert got["d"] == [(3.0, 4.0), (5.0, 6.0)]
    assert got["i"] == [(4.0, 5.0)]
    totals = spans.layer_totals([], all_, ["crawl.wave", "seq.dense_index", "inner"])
    assert totals["crawl.wave"]["s"] == pytest.approx(10.0 - 1.0 - 3.0)
    assert totals["seq.dense_index"]["s"] == pytest.approx(2.0)


def test_identical_intervals_nest_the_later_recorded_span_outside():
    inner, outer = Span("perfbench-10", "a", 1.0, 2.0, 1), Span("perfbench-9", "b", 1.0, 2.0, 1)
    assert spans.parents([inner, outer]) == {"perfbench-10": "perfbench-9", "perfbench-9": None}


def test_overlapping_spans_of_one_layer_count_once():
    # commit: four localCheckpoint spans on pool threads, overlapping
    wave = Span("w", "crawl.wave", 0.0, 10.0, 1)
    pool = [Span(f"c{k}", "commit.local_checkpoint", 6.0 + k * 0.5, 8.0 + k * 0.5, 100 + k)
            for k in range(4)]
    got = spans.layer_totals([], pool + [wave], ["crawl.wave", "commit.local_checkpoint"])
    assert got["commit.local_checkpoint"]["calls"] == 4
    assert got["commit.local_checkpoint"]["s"] == pytest.approx(9.5 - 6.0)
    assert got["crawl.wave"]["s"] == pytest.approx(10.0 - (9.5 - 6.0))


# -- spans: job attribution --------------------------------------------------------

def _job(job_id, submit, end, group=None, **fields):
    rec = {"job_id": job_id, "group": group, "submit": submit, "end": end}
    rec.update({f: 0.0 for f in spans.JOB_FIELDS})
    rec.update(fields)
    return rec


def test_jobs_attributed_by_group_then_by_interval():
    wave = Span("w", "crawl.wave", 0.0, 10.0, 1)
    dense = Span("d", "seq.dense_index", 1.0, 3.0, 1)
    ckpt_a = Span("c0", "commit.local_checkpoint", 6.0, 8.0, 101)
    ckpt_b = Span("c1", "commit.local_checkpoint", 6.1, 8.5, 102)
    jobs = [
        _job(0, 1.5, 2.0, group="d"),     # carries its span's group
        _job(1, 4.0, 4.5, group="w"),     # wave-level job
        _job(2, 6.05, 7.0),               # pool thread: no group
        _job(3, 8.2, 8.4),                # pool thread, only c1 still open
        _job(4, 11.0, 11.5),              # after every span
        _job(5, 2.0, 2.1, group="gone"),  # unknown group: by interval
    ]
    got = spans.attribute_jobs(jobs, [wave, dense, ckpt_a, ckpt_b])
    assert got == {0: "d", 1: "w", 2: "c0", 3: "c1", 4: None, 5: "d"}


def test_interval_attribution_tolerates_millisecond_truncation():
    s = Span("s", "x", 5.0004, 6.0, 1)
    assert spans.attribute_jobs([_job(0, 5.0, 5.1)], [s]) == {0: "s"}


def test_rollup_sums_nested_jobs_and_driver_time():
    w1 = Span("w1", "crawl.wave", 0.0, 10.0, 1)
    w2 = Span("w2", "crawl.wave", 10.0, 20.0, 1)
    d1 = Span("d1", "seq.dense_index", 1.0, 3.0, 1)
    jobs = [
        _job(0, 1.0, 3.0, group="d1", task_s=2.0, stages=2),
        _job(1, 2.0, 4.0, group="w1", task_s=1.0, stages=1, skipped_stages=1),
        _job(2, 12.0, 13.0, task_s=0.5, stages=1),
    ]
    got = spans.rollup(jobs, [w1, w2, d1], ["w1", "w2"])
    assert got["w1"]["jobs"] == 2 and got["w2"]["jobs"] == 1
    assert got["w1"]["task_s"] == 3.0 and got["w1"]["skipped_stages"] == 1
    assert got["w1"]["driver_s"] == pytest.approx(10.0 - 3.0)  # busy 1..4
    assert got["w2"]["driver_s"] == pytest.approx(9.0)


def test_layer_totals_count_directly_owned_jobs():
    w = Span("w", "crawl.wave", 0.0, 10.0, 1)
    d = Span("d", "seq.dense_index", 1.0, 3.0, 1)
    jobs = [_job(0, 1.5, 2.0, group="d", task_s=0.7), _job(1, 5.0, 6.0, group="w", task_s=0.2)]
    got = spans.layer_totals(jobs, [d, w], ["seq.dense_index", "crawl.wave"])
    assert got["seq.dense_index"]["calls"] == 1 and got["seq.dense_index"]["s"] == 2.0
    assert got["seq.dense_index"]["jobs"] == 1 and got["seq.dense_index"]["task_s"] == 0.7
    assert got["crawl.wave"]["s"] == pytest.approx(8.0)
    assert got["crawl.wave"]["jobs"] == 1


def test_job_records_credit_stages_to_the_job_that_ran_them():
    t = "2026-10-16T18:12:46.{:03d}GMT"
    rest = {
        "jobs": [
            {"jobId": 0, "jobGroup": "g", "submissionTime": t.format(100),
             "completionTime": t.format(300), "stageIds": [0, 1],
             "numCompletedStages": 2, "numSkippedStages": 0, "numCompletedTasks": 8},
            {"jobId": 1, "submissionTime": t.format(400), "completionTime": t.format(500),
             "stageIds": [1, 2], "numCompletedStages": 1, "numSkippedStages": 1,
             "numCompletedTasks": 4},
        ],
        "stages": [
            {"stageId": 0, "executorRunTime": 1000, "jvmGcTime": 10,
             "shuffleWriteBytes": 2_000_000, "submissionTime": t.format(100),
             "firstTaskLaunchedTime": t.format(150)},
            {"stageId": 1, "executorRunTime": 500, "shuffleReadBytes": 1_000_000},
            {"stageId": 2, "executorRunTime": 250, "memoryBytesSpilled": 3_000_000},
        ],
        "sql": [{"successJobIds": [1], "nodes": [
            {"nodeName": "ArrowEvalPython", "metrics": [
                {"name": "number of output rows", "value": "5,000"}]},
            {"nodeName": "FlatMapCoGroupsInPandas", "metrics": [
                {"name": "number of output rows", "value": "40"}]},
            {"nodeName": "Project", "metrics": [
                {"name": "number of output rows", "value": "7"}]},
        ]}],
    }
    recs = {r["job_id"]: r for r in spans.job_records(rest)}
    assert recs[0]["group"] == "g" and recs[1]["group"] is None
    assert recs[0]["task_s"] == pytest.approx(1.5)  # stages 0 and 1
    assert recs[1]["task_s"] == pytest.approx(0.25)  # stage 1 was job 0's
    assert recs[1]["skipped_stages"] == 1 and recs[1]["stages"] == 2
    assert recs[0]["sched_wait_s"] == pytest.approx(0.05, abs=1e-6)
    assert recs[0]["shuffle_write_mb"] == pytest.approx(2.0)
    assert recs[1]["spill_mb"] == pytest.approx(3.0)
    assert recs[1]["arrow_rows"] == 5040 and recs[0]["arrow_rows"] == 0
    assert recs[1]["udf_rows"] == 5000 and recs[1]["cogroup_rows"] == 40
    assert recs[1]["submit"] - recs[0]["submit"] == pytest.approx(0.3, abs=1e-6)


def test_tracer_wraps_every_owner_and_restores_them():
    import types

    mod_a, mod_b = types.ModuleType("a"), types.ModuleType("b")
    mod_a.f = mod_b.f = lambda x: x + 1
    original = mod_a.f
    tr = spans.Tracer()
    tr.wrap([mod_a, mod_b], "f", "layer.f")
    assert mod_a.f(1) == 2 and mod_b.f(2) == 3
    assert [s.name for s in tr.spans] == ["layer.f", "layer.f"]
    tr.unwrap()
    assert mod_a.f is original and mod_b.f is original


def test_tracer_nests_worker_thread_spans_under_the_open_span():
    tr = spans.Tracer()

    def work():
        with tr.span("pool"):
            time.sleep(0.001)

    with tr.span("outer"):
        t = threading.Thread(target=work)
        t.start()
        t.join(timeout=5)
        assert not t.is_alive()
    by_name = {s.name: s for s in tr.spans}
    assert by_name["pool"].thread != by_name["outer"].thread
    assert spans.parents(tr.spans)[by_name["pool"].id] == by_name["outer"].id


# -- correctness comparators -------------------------------------------------------

@pytest.fixture(scope="module")
def small_crawl():
    from tbbid_scrapy_spark.fixtures import sitegen
    from tbbid_scrapy_spark.fixtures.simulator import simulate_crawl

    site = sitegen.build_site(n_listing_pages=2, projects_per_listing=3, seed=5)
    sim = simulate_crawl(site, sitegen.default_seeds(), sitegen.default_politeness(),
                         sitegen.default_robots(), max_waves=50)
    fetch = list(sim.fetch_log)
    spans_rows = []
    ok_wave = {u: w for w, u in sim.fetch_log if u in sim.extracted}
    for doc in sorted(sim.extracted):
        for sp in sorted(sim.extracted[doc], key=lambda s: s[3]):
            spans_rows.append((ok_wave[doc], doc, sp))
    found = [(e.wave, e.url_norm) for e in sim.entries.values()]
    return sim, fetch, spans_rows, found


def test_compare_waves_accepts_the_simulator_itself(small_crawl):
    from perfbench.crawl_polite import compare_waves

    sim, fetch, spans_rows, found = small_crawl
    assert compare_waves(fetch, spans_rows, found, set(sim.seen), sim.waves_run, sim) == set()


def test_compare_waves_flags_only_the_wave_that_differs(small_crawl):
    from perfbench.crawl_polite import compare_waves

    sim, fetch, spans_rows, found = small_crawl
    n = sim.waves_run
    w = next(w for w in range(n) if sum(1 for x, _ in fetch if x == w) >= 2)
    idx = [i for i, (x, _) in enumerate(fetch) if x == w]
    swapped = list(fetch)
    swapped[idx[0]], swapped[idx[1]] = swapped[idx[1]], swapped[idx[0]]
    assert compare_waves(swapped, spans_rows, found, set(sim.seen), n, sim) == {w}
    # a lost span marks the wave that fetched its page
    assert compare_waves(fetch, spans_rows[1:], found, set(sim.seen), n, sim) == {spans_rows[0][0]}
    # a URL reported one wave late marks both waves' discoveries
    late_w, late_u = max(found)
    moved = [(x + 1, u) if u == late_u else (x, u) for x, u in found]
    assert compare_waves(fetch, spans_rows, moved, set(sim.seen), n, sim) == {
        late_w - 1, late_w
    } & set(range(n))
    # a wrong seen set marks every wave
    assert compare_waves(fetch, spans_rows, found, set(sim.seen) - {fetch[0][1]}, n, sim) == set(range(n))


def test_wave_clock_timestamps_every_boundary():
    from perfbench.crawl_polite import WaveClock

    seen = []
    clock = WaveClock(on_boundary=seen.append, max_waves=5)
    assert [clock.max_waves for _ in range(3)] == [5, 5, 5]
    assert seen == [0, 1, 2] and len(clock.reads) == 3
    assert [r[0] for r in clock.reads] == sorted(r[0] for r in clock.reads)
    assert clock.seen_mode == "exact" and clock.default_budget == 4  # a full CrawlConfig


def test_measured_operations_are_sized_from_the_seconds():
    from perfbench import crawl_polite

    assert crawl_polite.measured_waves(12) == 3
    assert crawl_polite.measured_waves(0.5) == 1
    assert corpus_queries.measured_passes(12) == 1
    assert corpus_queries.measured_passes(60) == 4


def test_oracle_comparison_ignores_row_and_column_order():
    a = pd.DataFrame({"b": [2, 1], "a": ["y", "x"]})
    b = pd.DataFrame({"a": ["x", "y"], "b": [1, 2]})
    ca = corpus_queries.canonical(a)
    assert corpus_queries.same_result(ca, corpus_queries.canonical(b))
    assert not corpus_queries.same_result(ca, corpus_queries.canonical(b.assign(b=[1, 3])))
    assert not corpus_queries.same_result(ca, corpus_queries.canonical(b.iloc[:1]))
    assert not corpus_queries.same_result(
        ca, corpus_queries.canonical(b.rename(columns={"b": "c"}))
    )


def test_generated_tables_are_seeded_and_match_declared_schemas():
    import __spark_entry__ as entry

    t1, t2, t3 = (corpus_queries.generate(s) for s in (7, 7, 8))
    assert set(t1) == set(corpus_queries.TABLES)
    for name in t1:
        assert t1[name].equals(t2[name]), name
        assert t1[name].schema.names == entry._TESTDATA_SCHEMAS[name].names, name
    assert not t1["documents"].equals(t3["documents"])
    texts = t1["documents"].column("text").to_pylist()
    assert sum(t.endswith(" dup") for t in texts) > 10  # near-duplicates planted
    assert len(texts) - len(set(texts)) > 3  # exact duplicates planted
