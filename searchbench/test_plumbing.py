"""Tests of the benchmark's own plumbing (no Spark session needed):

    python3 -m pytest searchbench/test_plumbing.py -q
"""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pandas as pd
import pytest

from searchbench import build, cache, interactive, trace
from searchbench.common import parse_steal_ticks, steal_is_clean, tail

RUN_SECONDS = json.loads(
    (cache.ENGINE_DIR.parent / "BENCHMARK.json").read_text())["run_seconds"]
N_REQUESTS = int(RUN_SECONDS * interactive.RATE_PER_S)
HOT = 500_000  # df of a hot lemma at the interactive corpus's scale


def fingerprint(obj) -> str:
    if isinstance(obj, pd.DataFrame):
        obj = obj.to_csv(index=False)
    return hashlib.sha256(json.dumps(obj, default=str).encode()).hexdigest()


def synthetic_pool(seed: int = 7) -> dict:
    """A pool shaped like cache.py's, over a small corpus whose hot lemmas
    are given interactive-scale df, so every route is reachable."""
    texts = [t for t in build.make_corpus(seed)["text"] if t]
    from search_engine_spark.functions.analyzer import analyze_text

    lemmas = sorted({t for text in texts[:2000] for t in analyze_text(text)})
    df = {t: (HOT - i if i < cache.HOT_LEMMAS else 1_000)
          for i, t in enumerate(lemmas)}
    cands = cache.pool_candidates(texts[:2000], df,
                                  np.random.default_rng(seed))
    return {
        cls: [{"q": q, "route": "maxscore" if cls == "hot_disjunctive"
               else cache.route_of([df[t] for t in set(analyze_text(q))])}
              for q in qs]
        for cls, qs in cands.items()
    }


@pytest.fixture(scope="module")
def pool():
    return synthetic_pool()


def test_same_seed_same_inputs_other_seed_other_inputs(pool):
    corpus = build.make_corpus(1)
    assert fingerprint(corpus) == fingerprint(build.make_corpus(1))
    assert fingerprint(corpus) != fingerprint(build.make_corpus(2))
    log = interactive.make_log(pool, 1, N_REQUESTS)
    assert log == interactive.make_log(pool, 1, N_REQUESTS)
    assert log != interactive.make_log(pool, 2, N_REQUESTS)
    batch = build.upsert_batch(corpus, 1)
    assert fingerprint(batch) == fingerprint(build.upsert_batch(corpus, 1))
    assert fingerprint(batch) != fingerprint(build.upsert_batch(corpus, 2))


def test_pool_classes_are_filtered_to_their_routes(pool):
    want = {"snippet": "classic", "hot_single": "blockmax",
            "hot_disjunctive": "maxscore", "hot_conjunctive": "batch"}
    for cls, route in want.items():
        assert pool[cls] and {i["route"] for i in pool[cls]} == {route}
    disjunctive = pool["hot_disjunctive"]
    assert len({i["q"] for i in disjunctive}) == len(disjunctive)
    assert {len(i["q"].split()) for i in disjunctive} == {2, 3}


def test_maxscore_ran_reads_the_engine_stats():
    assert cache.maxscore_ran({"tau": 1.2, "buckets_total": 9,
                               "buckets_kept": 3, "n_spans": 2})
    assert not cache.maxscore_ran({"bailout": True, "p50_over_max": 0.93,
                                   "buckets_total": 9})
    assert not cache.maxscore_ran(None)  # fewer than k seed rows
    # no doc-id spans: the plan fell back to classic
    assert not cache.maxscore_ran({"tau": 1.2, "buckets_total": 9,
                                   "buckets_kept": 0})


@pytest.mark.parametrize("seed", range(10))
def test_log_reaches_every_route(pool, seed):
    log = interactive.make_log(pool, seed, N_REQUESTS)
    routes = {cls if cls == "search_many" else pool[cls][idx[0]]["route"]
              for cls, idx in log}
    assert routes == set(interactive.ROUTES)
    classes = {cls for cls, _ in log}
    assert {"snippet", "search_many"} <= classes


def test_log_gives_every_class_an_equal_turn(pool):
    n = 3 * len(interactive.CYCLE)
    log = interactive.make_log(pool, 3, n)
    for cls in interactive.CYCLE:
        assert sum(1 for c, _ in log if c == cls) == 3
    # a pool class is walked without repeats until it is used up
    snippets = [i for c, idx in log if c in ("snippet", "search_many")
                for i in idx]
    assert len(snippets) <= len(pool["snippet"])
    assert len(set(snippets)) == len(snippets)
    hot = [idx[0] for c, idx in log if c == "hot_single"]
    assert len(set(hot)) == len(hot)


def test_route_thresholds():
    from search_engine_spark.operators.query import SearchEngine as E

    bmx, batch = E.BLOCKMAX_MIN_POSTINGS, E.BATCH_PLAN_MIN_POSTINGS
    assert cache.route_of([bmx]) == "blockmax"
    assert cache.route_of([bmx - 1]) == "classic"
    assert cache.route_of([bmx, 1]) == "classic"
    assert cache.route_of([batch // 2, batch // 2]) == "batch"
    assert cache.route_of([batch // 2, batch // 2 - 1]) == "classic"


def test_tail_has_ten_samples_beyond():
    xs = list(range(1, 21))  # 20 samples
    value, pct, n = tail(xs)
    assert (value, pct, n) == (10.0, 50.0, 20)
    assert sum(1 for x in xs if x > value) == 10
    value, pct, n = tail(list(range(100)))
    assert (value, pct, n) == (89.0, 90.0, 100)
    assert tail(list(range(10))) is None
    assert tail([5.0] * 11) == (5.0, 1 / 11 * 100, 11)


def _job(jid, t_ms, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": t_ms, "Stage IDs": stages,
            "Properties": props}


def _task(stage, run_ms, written=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 0,
                             "Output Metrics": {"Bytes Written": written}}}


def test_rollup_attributes_helper_thread_jobs_by_submission_time():
    spans = [
        {"id": 0, "name": "build", "parent": None, "start": 10.0,
         "end": 20.0},
        {"id": 1, "name": "probe", "parent": 0, "start": 12.0, "end": 13.0},
        {"id": 2, "name": "build", "parent": None, "start": 30.0,
         "end": 40.0},
    ]
    events = [
        _job(0, 11_000, [0], group="span-0"),  # the calling thread
        _job(1, 15_000, [1]),                  # helper thread, in span 0
        _job(2, 12_500, [2]),                  # helper, innermost is span 1
        _job(3, 31_000, [3]),                  # helper thread, in span 2
        _job(4, 25_000, [4]),                  # between spans: nobody's
        _job(5, 35_000, [5], group="span-0"),  # the group wins over time
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1}},
        _task(1, 2_000, written=1024 * 1024),
        _task(3, 500),
        _task(4, 9_000),
    ]
    per = trace.rollup(events, spans)
    assert per[0]["jobs"] == 3 and per[0]["stages"] == 1
    assert per[0]["task_s"] == 2.0 and per[0]["written_mb"] == 1.0
    assert per[1]["jobs"] == 1
    assert per[2]["jobs"] == 1 and per[2]["task_s"] == 0.5
    assert trace.totals(per, trace.subtree(spans, 0))["jobs"] == 4
    assert sum(p["task_s"] for p in per.values()) == 2.5  # job 4 unowned


def test_per_op_is_the_median_over_operations_with_their_nested_spans():
    spans = [
        {"id": 0, "name": "build", "parent": None},
        {"id": 1, "name": "probe", "parent": 0},
        {"id": 2, "name": "build", "parent": None},
        {"id": 3, "name": "build", "parent": None},
        {"id": 4, "name": "probe", "parent": None},
    ]
    per = {0: {"jobs": 2, "task_s": 1.0}, 1: {"jobs": 1, "task_s": 0.5},
           2: {"jobs": 5, "task_s": 4.0}, 3: {"jobs": 4, "task_s": 2.0},
           4: {"jobs": 9, "task_s": 9.0}}
    m = trace.per_op(spans, per, "build")
    assert set(m) == {f"spark.{k}_per_op" for k in trace.OP_COUNTERS}
    assert m["spark.jobs_per_op"] == 4 and m["spark.task_s_per_op"] == 2.0
    assert trace.fetch_input_mb(
        {0: {"input_mb": 3.0}, 1: {"input_mb": 1.0}}, [(0, 1)]) == 2.0


def test_snippet_queries_are_seeded_words_of_known_lemmas():
    from search_engine_spark.functions.analyzer import analyze_text

    texts = [t for t in build.make_corpus(3)["text"][:500] if t]
    df = {t: 10 for text in texts for t in analyze_text(text)}
    qs = cache.snippet_queries(texts, df, np.random.default_rng(1), 6)
    assert qs == cache.snippet_queries(texts, df,
                                       np.random.default_rng(1), 6)
    assert qs != cache.snippet_queries(texts, df,
                                       np.random.default_rng(2), 6)
    assert len(set(qs)) == 6
    for q in qs:
        assert len(q.split()) in (2, 3)
        assert len(set(analyze_text(q))) == len(q.split())


def test_steal_parsing():
    stat = ("cpu  4705 150 1120 1644 133 0 27 311 0 0\n"
            "cpu0 1393 50 277 409 30 0 10 80 0 0\n"
            "intr 1 2 3\n")
    assert parse_steal_ticks(stat) == 311
    assert parse_steal_ticks("cpu  1 2 3 4 5 6 7\n") == 0
    with pytest.raises(ValueError):
        parse_steal_ticks("intr 1 2 3\n")
    assert steal_is_clean(1.6, 20.0, 4)
    assert not steal_is_clean(1.7, 20.0, 4)
