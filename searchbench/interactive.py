"""Workload ``interactive``: an open loop of searches on a warm engine.

One sender issues requests at a fixed offered rate over a ~500k-turn
index; a request's latency runs from when it was due, so a slow request
delays the ones queued behind it. There is no record of real traffic to
copy, so the classes take equal turns in a fixed cycle and every top-k
plan carries the same weight. The seed picks which pool queries fill the
turns (see make_log); the pool's terms come from corpus turns
(cache.py), so hot lemmas recur with the corpus's own Zipf skew. The
classes exist to reach every top-k plan:

- ``snippet``: ``EngineAPI.search`` (snippets on) over 2-3 corpus words
  (classic plan, then the doc-store fetch and snippet formatting);
- ``hot_single``: ``search_ids`` of one hot lemma (block-max plan);
- ``hot_disjunctive``: ``search_ids(conjunctive=False,
  use_maxscore=True)`` of 2-3 hot lemmas (MaxScore plan). Left to route
  itself, the engine falls back to the classic plan on this corpus: its
  score bounds are flat, which the engine's bail-out test detects;
- ``hot_conjunctive``: ``search_ids`` of 3 hot lemmas (batch plan);
- ``search_many``: ``EngineAPI.search_many`` over 4 snippet queries.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np

from searchbench.common import median, tail, timed
from searchbench.probes import MB, dir_mb

RATE_PER_S = 0.6
CYCLE = ("snippet", "hot_single", "hot_disjunctive", "hot_conjunctive",
         "search_many")
MANY = 4  # queries per search_many request
TOP_K = 10
ROUTES = ("classic", "blockmax", "maxscore", "batch", "search_many")


def _source(cls: str) -> str:
    """The pool class a request class draws its queries from."""
    return "snippet" if cls == "search_many" else cls


def _width(cls: str) -> int:
    return MANY if cls == "search_many" else 1


def make_log(pool: dict, seed: int, n: int) -> list[tuple[str, list[int]]]:
    """``n`` requests as (class, pool indexes); deterministic in ``seed``.

    Classes follow CYCLE. Each pool class is walked in a seeded order,
    every query once before any repeats, so a run sends as many distinct
    queries as it can and the seed changes which ones and in what order.
    ``snippet`` and ``search_many`` share one walk of the snippet pool."""
    rng = np.random.default_rng(seed)
    slots = [CYCLE[i % len(CYCLE)] for i in range(n)]
    need: dict[str, int] = {}
    for cls in slots:
        need[_source(cls)] = need.get(_source(cls), 0) + _width(cls)
    walks = {}
    for src, k in need.items():
        size = len(pool[src])
        laps = [rng.permutation(size) for _ in range(-(-k // size))]
        walks[src] = iter(np.concatenate(laps).tolist())
    return [(cls, [int(next(walks[_source(cls)])) for _ in range(_width(cls))])
            for cls in slots]


def prepare(ctx) -> dict:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pool = json.loads((ctx.cache / "pool.json").read_text())
    text = pq.read_table(ctx.cache / "corpus.parquet",
                         columns=["text"]).column("text")
    return {"pool": pool,
            "log": make_log(pool, ctx.seed, int(ctx.seconds * RATE_PER_S)),
            "text_bytes": pc.sum(pc.binary_length(text)).as_py()}


def setup(ctx, st: dict) -> None:
    from search_engine_spark.api import EngineAPI
    from search_engine_spark.operators.query import SearchEngine

    idx = ctx.run_dir / "index"
    # hard links: queries never write into the index
    shutil.copytree(ctx.cache / "index", idx, copy_function=os.link)
    st.update(idx=str(idx), api=EngineAPI(ctx.spark, str(idx)),
              eng=SearchEngine(ctx.spark, str(idx)))
    for cls in CYCLE:  # one request per class warms each path
        execute(st, cls, [0] * _width(cls))


def top_ids(eng, cls: str, q: str) -> tuple[list, str]:
    """``search_ids`` as the class sends it: the rows and the plan that
    answered, read back from the engine for MaxScore requests."""
    from searchbench.cache import maxscore_ran, route_of

    if cls == "hot_disjunctive":
        eng.last_maxscore_stats = None
        rows = eng.search_ids(q, k=TOP_K, conjunctive=False,
                              use_maxscore=True).collect()
        ran = maxscore_ran(eng.last_maxscore_stats)
        return rows, "maxscore" if ran else "classic"
    rows = eng.search_ids(q, k=TOP_K).collect()
    infos, _ = eng.lookup_terms(q)  # memoized: no Spark job
    return rows, route_of([ti.df for ti in infos])


def execute(st: dict, cls: str, idx: list[int]) -> tuple[object, str]:
    """One request: its result and the plan that answered it."""
    pool, api = st["pool"], st["api"]
    if cls == "snippet":
        return api.search(pool[cls][idx[0]]["q"], limit=TOP_K), "classic"
    if cls == "search_many":
        return api.search_many([pool["snippet"][i]["q"] for i in idx],
                               limit=TOP_K), cls
    rows, plan = top_ids(st["eng"], cls, pool[cls][idx[0]]["q"])
    return [(int(r["doc_id"]), float(r["score"])) for r in rows], plan


def window(ctx, st: dict) -> None:
    st["out"] = []
    t0 = time.perf_counter()
    for i, (cls, idx) in enumerate(st["log"]):
        due = t0 + i / RATE_PER_S
        now = time.perf_counter()
        if now < due:
            time.sleep(due - now)
        start = time.perf_counter()
        with ctx.spans.span("request", cls=cls):
            res, plan = execute(st, cls, idx)
        end = time.perf_counter()
        st["out"].append({"res": res, "route": plan, "latency": end - due,
                          "lag": start - due, "service": end - start})


def _api_rows_ok(item: dict, res: dict) -> bool:
    if not res.get("result"):
        return False
    got = [(d["doc_id"], [d["conv_id"], d["turn_idx"]], d["relevance"],
            d["snippet"]) for d in res["data"]]
    want = list(zip(item["ids"], item["keys"], item["scores"],
                    item["snippets"]))
    return got == want


def check(ctx, st: dict) -> None:
    pool = st["pool"]
    for (cls, idx), o in zip(st["log"], st["out"]):
        res = o["res"]
        if cls == "snippet":
            ok = _api_rows_ok(pool[cls][idx[0]], res)
        elif cls == "search_many":
            rs = res.get("results", {})
            ok = res.get("result") and all(
                _api_rows_ok(pool["snippet"][i], rs.get(f"q{j}", {}))
                for j, i in enumerate(idx))
        else:
            item = pool[cls][idx[0]]
            got = sorted(res, key=lambda r: (-r[1], r[0]))
            ok = got == list(zip(item["ids"], item["scores"]))
        ctx.attempted += 1
        ctx.failed += 0 if ok else 1


def metrics(ctx, st: dict) -> dict:
    lat = [o["latency"] for o in st["out"]]
    t = tail(lat)
    # Reported, not declared: at the default run length the highest
    # percentile with ten samples above it lies below the median.
    ctx.notes["search_tail"] = (
        {"value_s": t[0], "percentile": round(t[1], 1), "samples": t[2]}
        if t else {"samples": len(lat), "reason": "fewer than 11 samples"})
    ctx.notes["search_p50_s"] = median(lat)
    ctx.notes["latency_s"] = [round(x, 4) for x in lat]
    ctx.notes["routes"] = [o["route"] for o in st["out"]]
    ctx.notes["window_op_s"] = median([o["service"] for o in st["out"]])
    ctx.notes["service_s_by_class"] = {
        c: median([o["service"] for (k, _), o in zip(st["log"], st["out"])
                   if k == c]) for c in CYCLE}
    # the mean, not the median: with one class in five per plan, a median
    # sits inside one class and cannot see the others get faster
    return {
        "op_time_s": statistics.fmean(lat),
        "index_bytes_per_text_byte":
            dir_mb(st["idx"]) * MB / st["text_bytes"],
    }


def layers(ctx, st: dict) -> dict:
    """Per-layer probes after the window. The route times run on the
    window's warm engine; the rest are the probes every workload
    shares."""
    import pyarrow.parquet as pq

    from searchbench import probes
    from searchbench.build import N_TURNS

    pool, eng = st["pool"], st["eng"]
    m: dict[str, float] = {}
    qs = sorted({(c, i[0]) for c, i in st["log"] if c != "search_many"})
    by_route = {r: [] for r in ROUTES[:4]}
    for cls, i in qs:
        with timed() as t:
            _, plan = top_ids(eng, cls, pool[cls][i]["q"])
        by_route[plan].append(t[0])
    for r, xs in by_route.items():
        if xs:
            m[f"query.{r}_s"] = median(xs)
    many = [o["service"] for (c, _), o in zip(st["log"], st["out"])
            if c == "search_many"]
    if many:
        m["query.search_many_s"] = median(many)
    snippet_qs = [pool[c][i]["q"] for c, i in qs if c == "snippet"]
    q_m, st["doc_fetch_spans"] = probes.query(
        ctx.spark, st["idx"], snippet_qs, ctx.spans, TOP_K)
    m.update(q_m)
    m.update(probes.codec(os.path.join(st["idx"], "postings")))
    m.update(probes.table_mb(st["idx"]))
    # the analyzer over the corpus's head, as many turns as a build
    head = ctx.run_dir / "head.parquet"
    pq.write_table(pq.read_table(ctx.cache / "corpus.parquet")
                   .slice(0, N_TURNS), head)
    m["analyzer.terms_col_s"] = probes.analyzer(
        ctx.spark.read.parquet(str(head)))
    return m


def rollup_metrics(st: dict, spans: list[dict], per_span: dict) -> dict:
    from searchbench import trace

    m = trace.per_op(spans, per_span, "request")
    plans = [o["route"] for o in st["out"]]
    for r in ROUTES:
        m[f"query.route_share.{r}"] = plans.count(r) / len(plans)
    m["query.doc_fetch_input_mb"] = trace.fetch_input_mb(
        per_span, st["doc_fetch_spans"])
    m["harness.generator_lag_s"] = median([o["lag"] for o in st["out"]])
    return m
