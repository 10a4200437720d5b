"""Per-checkout cache of the ``interactive`` workload's inputs: a
~500k-turn corpus, its index, and a query pool with oracle answers
(``pool.json``, from ``oracle.build_oracle_index`` / ``oracle_search``;
the ~1.3 GB oracle itself is dropped once the pool is answered). A last
step runs the pool's MaxScore queries on the built index and keeps only
those the engine really answers with the MaxScore plan.

The entry lives in ``.searchbench/cache/interactive-<key>/``, where the
key hashes the engine's source (``search_engine_spark/**/*.py``), this
file and the corpus parameters, so a change to any of them builds a fresh
entry. It is built in child processes before any run's set-up is timed,
written to a temporary directory and renamed into place, so a reader
never sees half an entry. Runs read the index through a hard-linked copy.

Run as ``python3 -m searchbench.cache <step> <dir>`` (``ensure`` does).
"""

from __future__ import annotations

import hashlib
import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

import numpy as np

from searchbench.common import ENGINE_DIR, WORK, write_json

CORPUS = {"n_conversations": 25_000, "seed": 101}

# query pool shape
POOL_SIZES = {"snippet": 40, "hot_single": 8, "hot_disjunctive": 8,
              "hot_conjunctive": 8}
# MaxScore candidates answered by the oracle; the routes step keeps the
# first POOL_SIZES["hot_disjunctive"] that run the MaxScore plan
DISJUNCTIVE_CANDIDATES = 16
HOT_LEMMAS = 10
TOP_K = 10


def source_hash() -> str:
    h = hashlib.sha256()
    for p in sorted(ENGINE_DIR.rglob("*.py")):
        h.update(str(p.relative_to(ENGINE_DIR)).encode())
        h.update(p.read_bytes())
    h.update(Path(__file__).read_bytes())
    h.update(json.dumps(CORPUS, sort_keys=True).encode())
    return h.hexdigest()[:16]


def _start(step_name: str, d: Path, env: dict[str, str]):
    return subprocess.Popen(
        [sys.executable, "-m", "searchbench.cache", step_name, str(d)],
        cwd=str(ENGINE_DIR.parent), env=env, stdout=subprocess.DEVNULL,
    )


def _wait(procs) -> None:
    """Wait for every step; kill the rest if one fails or this run stops."""
    try:
        for p in procs:
            if p.wait() != 0:
                raise subprocess.CalledProcessError(p.returncode, p.args)
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
                p.wait()


def ensure(env: dict[str, str]) -> Path:
    """Return the cache entry, building it first if it is missing; the
    steps run with ``env`` (see common.child_env)."""
    final = WORK / "cache" / f"interactive-{source_hash()}"
    if (final / "READY").exists():
        return final
    final.parent.mkdir(parents=True, exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix=f".{final.name}.", dir=final.parent))
    try:
        _wait([_start("corpus", tmp, env)])
        # Each step is its own process, so the oracle's Python structures
        # and the Spark JVM never share one process's memory. The pool
        # (one core) and the index (Spark) need only the corpus, so they
        # run side by side.
        _wait([_start("pool", tmp, env), _start("index", tmp, env)])
        _wait([_start("routes", tmp, env)])
        shutil.rmtree(tmp / "run", ignore_errors=True)
        (tmp / "READY").write_text("")
        try:
            tmp.rename(final)
        except OSError:  # another run finished the same entry first
            pass
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # entries keyed by older sources are dead weight
    for other in final.parent.glob("interactive-*"):
        if other != final:
            shutil.rmtree(other, ignore_errors=True)
    return final


# -- interactive query pool ---------------------------------------------------
def route_of(dfs: list[int]) -> str:
    """The top-k plan ``SearchEngine.search_ids`` picks for a plain
    conjunctive query (no offset, scope, role or df cut) whose terms all
    exist, recomputed from the terms' df against the engine's public
    thresholds."""
    from search_engine_spark.operators.query import SearchEngine as E

    if len(dfs) == 1 and dfs[0] >= E.BLOCKMAX_MIN_POSTINGS:
        return "blockmax"
    if sum(dfs) >= E.BATCH_PLAN_MIN_POSTINGS:
        return "batch"
    return "classic"


def maxscore_ran(stats: dict | None) -> bool:
    """Whether the engine's last MaxScore call ran its own plan, from the
    public ``SearchEngine.last_maxscore_stats`` (reset to None before the
    call): the plan records its doc-id spans only when it prunes with
    them, and falls back to the classic plan otherwise."""
    return bool(stats) and "n_spans" in stats


def snippet_queries(texts, df: dict[str, int], rng, n: int) -> list[str]:
    """``n`` distinct queries of 2-3 words picked from one corpus turn
    each, every word one lemma of the corpus, answered by the classic
    plan."""
    from search_engine_spark.functions.analyzer import analyze_text

    out: list[str] = []
    while len(out) < n:
        words = texts[int(rng.integers(len(texts)))].split()
        if len(words) < 3:
            continue
        pick = [words[int(i)] for i in rng.choice(
            len(words), size=int(rng.integers(2, 4)), replace=False)]
        lemmas = [analyze_text(w) for w in pick]
        terms = {t for ts in lemmas for t in ts}
        q = " ".join(pick)
        if (q in out or len(terms) != len(pick)
                or not all(t in df for t in terms)
                or route_of([df[t] for t in terms]) != "classic"):
            continue
        out.append(q)
    return out


def pool_candidates(texts, df: dict[str, int], rng) -> dict[str, list]:
    """Query texts per class, before the oracle answers them. Terms come
    from corpus turns, so hot lemmas recur with the corpus's Zipf skew.
    The conjunctive classes are filtered to the route they exist to
    exercise; ``hot_disjunctive`` holds 2-3 hot lemmas each, which the
    workload sends with ``use_maxscore=True`` (see interactive.py), and
    the routes step filters them on the built index."""
    hot = sorted(df, key=lambda t: (-df[t], t))[:HOT_LEMMAS]
    out: dict[str, list] = {c: [] for c in POOL_SIZES}
    out["snippet"] = snippet_queries(texts, df, rng, POOL_SIZES["snippet"])
    out["hot_single"] = [
        t for t in hot if route_of([df[t]]) == "blockmax"
    ][:POOL_SIZES["hot_single"]]
    combos = [(a, b, c) for i, a in enumerate(hot)
              for j, b in enumerate(hot[i + 1:], i + 1)
              for c in hot[j + 1:]]
    order = rng.permutation(len(combos))
    for n, i in enumerate(order):
        terms = combos[int(i)]
        if (len(out["hot_conjunctive"]) < POOL_SIZES["hot_conjunctive"]
                and route_of([df[t] for t in terms]) == "batch"):
            out["hot_conjunctive"].append(" ".join(terms))
            continue
        q = " ".join(terms[:2 + n % 2])  # disjunctive: 2 or 3 terms
        if (len(out["hot_disjunctive"]) < DISJUNCTIVE_CANDIDATES
                and q not in out["hot_disjunctive"]):
            out["hot_disjunctive"].append(q)
    for cls, qs in out.items():
        if not qs:
            raise RuntimeError(f"query pool class {cls} is empty")
    return out


def answer_pool(candidates: dict[str, list], oracle) -> dict:
    """Oracle answers for every pool query, bit-exact: doc ids and scores
    in rank order, and for the API classes the turn keys and snippets."""
    from search_engine_spark.functions.analyzer import analyze_text
    from search_engine_spark.functions.snippet import make_snippet
    from search_engine_spark.oracle import oracle_search

    docs = oracle.documents.set_index("doc_id")
    df = dict(zip(oracle.term_stats["term"], oracle.term_stats["df"]))
    pool: dict[str, list] = {}
    for cls, qs in candidates.items():
        conjunctive = cls != "hot_disjunctive"
        pool[cls] = []
        for q in qs:
            hits = oracle_search(oracle, q, k=TOP_K, conjunctive=conjunctive)
            terms = sorted(set(analyze_text(q)))
            item = {
                "q": q,
                "dfs": [int(df[t]) for t in terms],
                "route": ("maxscore" if cls == "hot_disjunctive"
                          else route_of([int(df[t]) for t in terms])),
                "ids": [int(d) for d in hits["doc_id"]],
                "scores": [float(s) for s in hits["score"]],
            }
            if cls == "snippet":
                lemmas = set(analyze_text(q))
                rows = docs.loc[item["ids"]]
                item["keys"] = [[c, int(t)] for c, t in
                                zip(rows["conv_id"], rows["turn_idx"])]
                item["snippets"] = [make_snippet(t, lemmas)
                                    for t in rows["text"]]
            pool[cls].append(item)
    return pool


# -- steps -----------------------------------------------------------------
def step(name: str, d: Path) -> None:
    if name == "corpus":
        from search_engine_spark.synth import make_transcripts_vectorized

        make_transcripts_vectorized(**CORPUS).to_parquet(
            d / "corpus.parquet", index=False)
    elif name == "pool":
        import pandas as pd

        from search_engine_spark.oracle import build_oracle_index

        oracle = build_oracle_index(pd.read_parquet(d / "corpus.parquet"))
        df = dict(zip(oracle.term_stats["term"],
                      (int(x) for x in oracle.term_stats["df"])))
        texts = oracle.documents["text"].tolist()
        cands = pool_candidates(texts, df, np.random.default_rng(7))
        write_json(d / "pool.json", answer_pool(cands, oracle))
    elif name == "index":
        from search_engine_spark.operators.index_build import build_index
        from searchbench.common import start_spark

        spark = start_spark(d / "run", event_log=False)
        build_index(spark, spark.read.parquet(str(d / "corpus.parquet")),
                    str(d / "index"), resume=False)
        spark.stop()
    elif name == "routes":
        from search_engine_spark.operators.query import SearchEngine
        from searchbench.common import start_spark

        pool = json.loads((d / "pool.json").read_text())
        spark = start_spark(d / "run", event_log=False)
        eng = SearchEngine(spark, str(d / "index"))
        kept = []
        for item in pool["hot_disjunctive"]:
            eng.last_maxscore_stats = None
            eng.search_ids(item["q"], k=TOP_K, conjunctive=False,
                           use_maxscore=True).collect()
            if maxscore_ran(eng.last_maxscore_stats):
                kept.append(item)
        spark.stop()
        if not kept:
            raise RuntimeError("no pool query runs the MaxScore plan")
        pool["hot_disjunctive"] = kept[:POOL_SIZES["hot_disjunctive"]]
        write_json(d / "pool.json", pool)
    else:
        raise ValueError(f"unknown cache step {name}")


if __name__ == "__main__":
    step(sys.argv[1], Path(sys.argv[2]))
