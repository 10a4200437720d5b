"""Workload ``build``: repeated full builds of one corpus.

The seed generates a corpus of exactly ``N_TURNS`` turns. Set-up starts
the session and runs warm-up builds of that corpus: in a fresh JVM the
first build takes about twice as long as a warm one and the second about
1.4 times, so timing them would measure the JVM, not the engine. The
window then runs ``build_index(resume=False)`` into a fresh directory
while the next build is expected to end within ``--seconds`` (at least
``MIN_BUILDS`` builds);
throughput is the corpus's turns over the median build time. Every build
is checked against the oracle afterwards: each term's df and the corpus
statistics, exactly.
"""

from __future__ import annotations

import shutil
import time

import numpy as np
import pyarrow.parquet as pq

from searchbench.cache import snippet_queries
from searchbench.common import median, timed

N_TURNS = 40_000
WARMUP_BUILDS = 2
MIN_BUILDS = 3
QUERIES = 4  # for the query-side probes of a traced run


def make_corpus(seed: int):
    """Exactly ``N_TURNS`` turns: whole conversations, the last one cut."""
    from search_engine_spark.synth import make_transcripts_vectorized

    pdf = make_transcripts_vectorized(n_conversations=N_TURNS // 15,
                                      seed=seed)
    if len(pdf) < N_TURNS:
        raise RuntimeError(f"seed {seed} gave only {len(pdf)} turns")
    return pdf.iloc[:N_TURNS].reset_index(drop=True)


def prepare(ctx) -> dict:
    corpus = make_corpus(ctx.seed)
    path = ctx.run_dir / "corpus.parquet"
    corpus.to_parquet(path, index=False)
    return {"corpus": corpus, "path": str(path), "builds": [], "sizes": [],
            "stats": [],
            "text_bytes": sum(len(t.encode()) for t in corpus["text"])}


def setup(ctx, st: dict) -> None:
    from search_engine_spark.operators.index_build import build_index

    st["transcripts"] = ctx.spark.read.parquet(st["path"])
    for i in range(WARMUP_BUILDS):
        out = ctx.run_dir / f"warm{i}"
        build_index(ctx.spark, st["transcripts"], str(out), resume=False)
        shutil.rmtree(out)


def window(ctx, st: dict) -> None:
    from search_engine_spark.operators.index_build import build_index

    from searchbench.probes import dir_mb

    i, t0 = 0, time.perf_counter()
    while i < MIN_BUILDS or (time.perf_counter() - t0
                             + median(st["builds"]) <= ctx.seconds):
        out = ctx.run_dir / f"build{i}"
        with ctx.spans.span("build"), timed() as t:
            build_index(ctx.spark, st["transcripts"], str(out), resume=False)
        st["builds"].append(t[0])
        # what the checks and sizes need, read outside the timed build
        st["stats"].append(_read_stats(out))
        st["sizes"].append(dir_mb(out))
        st["last"] = out
        if i:
            shutil.rmtree(ctx.run_dir / f"build{i - 1}")
        i += 1


def _read_stats(index_dir) -> tuple[dict, list]:
    ts = pq.read_table(index_dir / "term_stats", columns=["term", "df"])
    df = dict(zip(ts.column("term").to_pylist(), ts.column("df").to_pylist()))
    return df, pq.read_table(index_dir / "corpus_stats").to_pylist()


def check(ctx, st: dict) -> None:
    """Each build's df per term and corpus statistics against the oracle."""
    from search_engine_spark.oracle import build_oracle_index

    oracle = build_oracle_index(st["corpus"])
    want_df = {t: int(v) for t, v in zip(oracle.term_stats["term"],
                                         oracle.term_stats["df"])}
    for df, cs in st["stats"]:
        ok = (df == want_df and len(cs) == 1
              and cs[0]["n_docs"] == oracle.n_docs
              and cs[0]["avgdl"] == oracle.avgdl
              and cs[0]["max_tf_sum"] == oracle.max_tf_sum)
        ctx.attempted += 1
        ctx.failed += 0 if ok else 1


def metrics(ctx, st: dict) -> dict:
    ctx.notes["window_op_s"] = median(st["builds"])
    ctx.notes["build_s"] = [round(x, 4) for x in st["builds"]]
    ctx.notes["build_turns_per_s"] = N_TURNS / median(st["builds"])
    return {
        # the median: a run's rare slow build stays out of it
        "op_time_s": median(st["builds"]),
        "index_bytes_per_text_byte":
            median(st["sizes"]) * 1024 * 1024 / st["text_bytes"],
    }


def layers(ctx, st: dict) -> dict:
    from searchbench import probes

    m = {
        "index_build.build_s": median(st["builds"]),
        "analyzer.terms_col_s": probes.analyzer(st["transcripts"]),
        "index_build.stage_a_s": probes.stage_a(ctx.spark, st["transcripts"]),
    }
    m.update(probes.codec(st["last"] / "postings"))
    m.update(probes.table_mb(st["last"]))
    # the query-side probes on the last built index, before the
    # maintenance probe changes it
    rng = np.random.default_rng(ctx.seed)
    queries = snippet_queries(st["corpus"]["text"].tolist(),
                              st["stats"][-1][0], rng, QUERIES)
    q_m, st["doc_fetch_spans"] = probes.query(ctx.spark, st["last"],
                                              queries, ctx.spans)
    m.update(q_m)
    m.update(_maintenance(ctx, st))
    return m


def _maintenance(ctx, st: dict) -> dict:
    """One upsert batch into the last built index, the delete vector it
    leaves, and the compaction that folds it back: the write and
    background layers, probed once per traced run."""
    from search_engine_spark.api import EngineAPI
    from search_engine_spark.operators.deletes import load_deleted_ids
    from search_engine_spark.operators.snapshots import list_snapshots

    from searchbench.probes import dir_mb

    rows = upsert_batch(st["corpus"], ctx.seed)
    path = ctx.run_dir / "upsert.parquet"
    rows.to_parquet(path, index=False)
    st["upsert_text_mb"] = sum(len(t.encode()) for t in rows["text"]) / 2**20
    idx = str(st["last"])
    api = EngineAPI(ctx.spark, idx)
    with ctx.spans.span("upsert"), timed() as t_up:
        res = api.index_batch(ctx.spark.read.parquet(str(path)), upsert=True)
    if not res.get("result"):
        raise RuntimeError(f"upsert failed: {res}")
    with timed() as t_del:
        deleted = load_deleted_ids(ctx.spark, idx)
    with ctx.spans.span("compact"):
        comp = api.compact()
    return {
        "incremental.upsert_s": t_up[0],
        "deletes.vector_len": 0 if deleted is None else int(deleted.size),
        "deletes.load_s": t_del[0],
        "compaction.parts_before": comp["parts_before"],
        "compaction.parts_after": comp["parts_after"],
        "snapshots.count": len(list_snapshots(idx)),
        "snapshots.mb": dir_mb(f"{idx}/_snapshots"),
    }


def upsert_batch(corpus, seed: int, new_conversations: int = 117,
                 replaced: int = 300):
    """~2.4k new turns in new conversations plus ``replaced`` existing
    turns with new text; deterministic in ``seed``."""
    import pandas as pd

    from search_engine_spark.synth import make_transcripts_vectorized

    rng = np.random.default_rng(seed)
    fresh = make_transcripts_vectorized(n_conversations=new_conversations,
                                        seed=int(rng.integers(2**31)))
    fresh["conv_id"] = fresh["conv_id"].str.replace("conv-", "conv-new-",
                                                    regex=False)
    texts = fresh["text"][fresh["text"].str.len() > 0].to_numpy()
    live = np.flatnonzero(corpus["text"].str.len().to_numpy() > 0)
    old = corpus.iloc[rng.choice(live, size=replaced, replace=False)].copy()
    old["text"] = rng.choice(texts, size=replaced)
    return pd.concat([fresh, old], ignore_index=True)


def rollup_metrics(st: dict, spans: list[dict], per_span: dict) -> dict:
    from searchbench import trace
    from searchbench.trace import subtree, totals

    def each(name):
        return [totals(per_span, subtree(spans, s["id"]))
                for s in spans if s["name"] == name]

    per_build = each("build")
    m = trace.per_op(spans, per_span, "build")
    m["query.doc_fetch_input_mb"] = trace.fetch_input_mb(
        per_span, st["doc_fetch_spans"])
    m.update({f"index_build.{k}": median([b[k] for b in per_build])
              for k in ("written_mb", "gc_s")})
    up, comp = each("upsert")[0], each("compact")[0]
    m.update({
        "incremental.jobs": up["jobs"],
        "incremental.stages": up["stages"],
        "incremental.written_mb_per_batch_mb":
            up["written_mb"] / st["upsert_text_mb"],
        "compaction.rewritten_mb": comp["written_mb"],
        "compaction.stages": comp["stages"],
    })
    return m
