"""Single-layer probes for traced runs: each times one layer's public
function in isolation, outside the workload's timed window."""

from __future__ import annotations

import os
from pathlib import Path

from searchbench.common import median, timed

MB = 1024.0 * 1024.0
DECODE_CHUNK = 20_000  # blocks per decode call; bounds the probe's memory


def dir_mb(path) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total / MB


def codec(postings_dir) -> dict:
    """``decode_postings_grouped`` over every posting block of an index,
    in this thread, outside Spark; and the stored bytes per posting."""
    import pyarrow.parquet as pq

    from search_engine_spark.functions.codec import decode_postings_grouped

    t = pq.read_table(postings_dir, columns=["n", "doc_ids", "tfs", "dls"])
    ids, tfs = t.column("doc_ids").to_pylist(), t.column("tfs").to_pylist()
    n_postings = int(sum(t.column("n").to_pylist()))
    stored = sum(
        sum(len(b) for b in t.column(c).to_pylist())
        for c in ("doc_ids", "tfs", "dls")
    )
    decoded = 0
    with timed() as el:
        for i in range(0, len(ids), DECODE_CHUNK):
            d, _, _ = decode_postings_grouped(ids[i:i + DECODE_CHUNK],
                                              tfs[i:i + DECODE_CHUNK])
            decoded += d.size
    if decoded != n_postings:
        raise RuntimeError(f"decoded {decoded} postings, blocks hold "
                           f"{n_postings}")
    return {"codec.decode_s": el[0],
            "codec.bytes_per_posting": stored / n_postings}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def analyzer(transcripts, reps: int = 3) -> float:
    """``terms_col`` exploded over a corpus into a no-op sink (median)."""
    from pyspark.sql import functions as F

    from search_engine_spark.functions.analyzer import terms_col

    xs = []
    for _ in range(reps):
        with timed() as t:
            _noop(transcripts.select(F.explode(terms_col(F.col("text")))))
        xs.append(t[0])
    return median(xs)


def stage_a(spark, transcripts, reps: int = 3) -> float:
    """The build's stage A through its public steps — clean_transcripts,
    assign_doc_ids, terms_col, tf then df aggregation — into a no-op sink
    (median)."""
    from pyspark.sql import functions as F

    from search_engine_spark.functions.analyzer import terms_col
    from search_engine_spark.operators.index_build import (
        assign_doc_ids,
        clean_transcripts,
    )

    xs = []
    for _ in range(reps):
        with timed() as t:
            docs, ranged, _ = assign_doc_ids(clean_transcripts(transcripts),
                                             spark)
            terms = F.explode(terms_col(F.col("text"))).alias("term")
            tf = docs.select("doc_id", terms).groupBy("term", "doc_id").count()
            _noop(tf.groupBy("term").agg(F.count("*").alias("df"),
                                         F.sum("count").alias("cf")))
            ranged.unpersist()
        xs.append(t[0])
    return median(xs)


def query(spark, index_dir, queries, spans, top_k: int = 10) -> tuple:
    """The query-side layers over plain conjunctive ``queries`` on one
    index: the engine constructor, ``lookup_terms``, the doc-store fetch
    (``search(with_snippets=False)`` minus ``search_ids``), the API
    envelope (``EngineAPI.search`` minus ``SearchEngine.search``) and
    ``make_snippet`` over the returned texts, outside Spark. One pass of
    ``search_ids`` first warms the engine's memos, so every figure is
    taken on a warm engine. Returns the metrics and, per query, the
    (fetch, ids) span ids for ``trace.fetch_input_mb``."""
    import pyarrow.parquet as pq

    from search_engine_spark.api import EngineAPI
    from search_engine_spark.functions.analyzer import analyze_text
    from search_engine_spark.functions.snippet import make_snippet
    from search_engine_spark.operators.query import SearchEngine

    idx = str(index_dir)
    opens = []
    for _ in range(3):
        with timed() as t:
            eng = SearchEngine(spark, idx)
        opens.append(t[0])
    api = EngineAPI(spark, idx)
    for q in queries:
        eng.search_ids(q, k=top_k).collect()
    docs = pq.read_table(os.path.join(idx, "documents"),
                         columns=["doc_id", "text"]).to_pandas()
    docs = docs.set_index("doc_id")["text"]
    lookup, fetch, fetch_spans, env, snip = [], [], [], [], []
    for q in queries:
        with timed() as t:
            eng.lookup_terms(q)
        lookup.append(t[0])
        with spans.span("probe.ids") as s_ids, timed() as t_ids:
            eng.search_ids(q, k=top_k).collect()
        with spans.span("probe.fetch") as s_full, timed() as t_full:
            eng.search(q, k=top_k, with_snippets=False).collect()
        fetch.append(t_full[0] - t_ids[0])
        fetch_spans.append((s_full["id"], s_ids["id"]))
        with timed() as t_eng:
            eng.search(q, k=top_k).collect()
        with timed() as t_api:
            res = api.search(q, limit=top_k)
        env.append(t_api[0] - t_eng[0])
        texts = [docs[d["doc_id"]] for d in res["data"]]
        lemmas = set(analyze_text(q))
        with timed() as t:
            for text in texts:
                make_snippet(text, lemmas)
        snip.append(t[0])
    return {
        "query.engine_open_s": median(opens),
        "query.lookup_s": median(lookup),
        "query.doc_fetch_s": median(fetch),
        "api.envelope_s": median(env),
        "snippet.make_snippet_s": median(snip),
    }, fetch_spans


def table_mb(index_dir) -> dict:
    d = Path(index_dir)
    return {
        "index_build.postings_mb": dir_mb(d / "postings"),
        "index_build.documents_mb": dir_mb(d / "documents"),
        "index_build.staging_mb": dir_mb(d / "_staging_postings_raw"),
        "index_build.term_stats_mb": dir_mb(d / "term_stats"),
    }
