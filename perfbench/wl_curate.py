"""``curate``: a corpus-curation job, one pass after another.

A pass runs the declarative curation pipeline (quality gate, PII
redaction, exact dedup, decontamination, MinHash near-dup removal,
language filter, split) over the generated corpus and writes its output
to parquet, then runs the ``ml/`` dedup and similarity keys on the same
directory: MinHash-LSH pairs and random projection.  Last, the corpus's
document files arrive as :data:`STREAM_DROPS` drops on a file stream,
which the readability maintainer drains with ``availableNow`` into a
``parquet_state_store``.
Each pass runs cold, from a fresh session: at this corpus size its cost
is mostly per-job overhead (compilation, planning, Python-worker start),
not data (see NOTES.md).
"""

from __future__ import annotations

import time

import pyarrow.parquet as pq

import gen
from common import MAINTAINERS, PIPELINE_GATES, Result, cost_metrics, layer_summary, median, quantile, timed_loop

SPEC = [
    {"op": "quality_gate", "min_words": 25, "max_words": 80},
    {"op": "pii_redact"},
    {"op": "dedup_exact"},
    {"op": "decontaminate", "benchmark": "doc_id % 50 = 0", "n": 8},
    {"op": "dedup_neardup", "threshold": 0.5},
    {"op": "lang_filter", "langs": ["en", "de"]},
    {"op": "split", "salt": "split"},
]
#: ml keys of a pass, with what the pass does with each result
ML_KEYS = (
    ("q_minhash_lsh_pairs", "collect"),
    ("q_random_projection", "collect"),
)
#: Stated bounds for the output checks.  A near copy has one word of
#: 30-74 replaced, so 3-gram Jaccard 0.81-0.92, and 4 bands of 4 rows
#: make it a candidate with probability 0.89-0.98: recall measures
#: 0.93-0.95 over seeds, and the bound sits well below that.
MIN_NEARDUP_RECALL = 0.85
MAX_NEAR_SURVIVORS = 0.1
#: The corpus's ``gen.DOC_FILES`` document files arrive in this many
#: drops, one drop per trigger.  The first trigger compiles the fold, so
#: ``fold_growth`` compares the last drop with the second.
STREAM_DROPS = 4
#: per-trigger durations kept from each StreamingQueryProgress
TRIGGER_MS = ("triggerExecution", "addBatch", "queryPlanning", "walCommit")


def generate(seed: int, inputs) -> dict:
    return gen.write_corpus(seed, str(inputs / "corpus"))


def load(ctx, corpus: str) -> dict:
    from lexam_data_pipeline_spark.catalog import load_table

    out = {}
    for name in ("documents", "embeddings"):
        t0 = time.perf_counter()
        out[name] = load_table(ctx.spark, corpus, name)
        ctx.load_ms.append((time.perf_counter() - t0) * 1000.0)
    return out


def one_pass(ctx, corpus: str, docs, queries: dict, out_dir: str, state_dir: str) -> dict:
    from lexam_data_pipeline_spark.operators.observe import PipelineAudit
    from lexam_data_pipeline_spark.pipeline.declarative import build_pipeline
    from lexam_data_pipeline_spark.streaming.dedup import read_documents_stream
    from lexam_data_pipeline_spark.streaming.retrieval import parquet_state_store
    from lexam_data_pipeline_spark.streaming.textstats import (
        readability_report,
        start_streaming_readability,
    )

    tr = ctx.tracer
    audit = PipelineAudit()
    with tr.span("construct", "pipeline"):
        curated = build_pipeline(docs, SPEC, audit)
    with tr.span("action", "pipeline"):
        curated.select("doc_id", "text", "split").write.mode("overwrite").parquet(out_dir)
    stage_rows = {k: (v or {}).get("rows", 0) for k, v in audit.report().items()}
    results = {}
    for key, action in ML_KEYS:
        with tr.span("construct", "ml"):
            df = queries[key](ctx.spark, corpus)
        with tr.span("action", "ml"):
            if action == "collect":
                results[key] = [tuple(r) for r in df.collect()]
            else:
                df.write.format("noop").mode("overwrite").save()
    with tr.span("construct", "streaming"):
        stream = read_documents_stream(
            ctx.spark, f"{corpus}/documents.parquet", gen.DOC_FILES // STREAM_DROPS
        )
        read, write = parquet_state_store(ctx.spark, state_dir)
    with tr.span("action", "streaming"):
        query = start_streaming_readability(stream, read, write)
        query.awaitTermination()
    if query.exception() is not None:
        raise RuntimeError(f"stream failed: {query.exception()}")
    triggers = [
        {"rows": p["numInputRows"], **{k: p["durationMs"].get(k, 0) for k in TRIGGER_MS}}
        for p in query.recentProgress if p["numInputRows"]
    ]
    t0 = time.perf_counter()
    with tr.span("report", "streaming"):
        report = [tuple(r) for r in readability_report(read()).collect()]
    report_ms = (time.perf_counter() - t0) * 1000.0
    return {
        "stage_rows": stage_rows, "results": results,
        "stream": {"triggers": triggers, "report": report, "report_ms": report_ms},
    }


def neardup_stats(pairs, planted: dict) -> dict:
    near = {(orig, copy) for copy, (kind, orig) in planted.items() if kind == "near"}
    kept = {(a, b) for a, b, est in pairs if est >= 0.5}
    return {
        "candidates": len(pairs),
        "kept": len(kept),
        "recall": len(near & kept) / len(near) if near else 1.0,
    }


def check_stream(stream: dict, state_dir: str, batch_report: list, sources: dict) -> dict:
    """Every document arrived once, the state holds one row per source
    with its document count, and the report served off the drained
    state equals the batch key ``q_readability`` row for row."""
    with open(f"{state_dir}/_CURRENT") as fh:
        state = pq.read_table(f"{state_dir}/{fh.read().strip()}", columns=["source", "n_docs"])
    return {
        "rows_in": sum(t["rows"] for t in stream["triggers"]),
        "state_rows": state.num_rows,
        "state_counts_match": dict(zip(*state.to_pydict().values())) == sources,
        "report_equals_batch": bool(stream["report"]) and stream["report"] == batch_report,
    }


def check_output(out_dir: str, generated: dict) -> dict:
    """Output ids are a subset of the input, no exact-duplicate text
    survives, and at most MAX_NEAR_SURVIVORS of the planted near copies
    whose original survives are still there."""
    table = pq.read_table(out_dir, columns=["doc_id", "text"])
    ids = table.column("doc_id").to_pylist()
    texts = table.column("text").to_pylist()
    kept = set(ids)
    near = [(c, o) for c, (k, o) in generated["planted"].items() if k == "near" and o in kept]
    survivors = sum(c in kept for c, _ in near)
    return {
        "ids_subset": kept <= set(generated["texts"]),
        "no_exact_dups": len(set(texts)) == len(texts) and len(kept) == len(ids),
        "near_survivor_share": survivors / len(near) if near else 0.0,
    }


def stream_layers(ops) -> dict[str, float]:
    """Streaming-layer metrics from each pass's trigger progress: times
    are medians over the triggers, counts medians over the passes."""
    (m,) = MAINTAINERS
    triggers = [o.payload["stream"]["triggers"] for o in ops]
    every = [t for ts in triggers for t in ts]
    return {
        f"streaming.fold_ms.{m}": median(t["triggerExecution"] for t in every),
        "streaming.rows_in": median(o.payload["stream_check"]["rows_in"] for o in ops),
        f"streaming.state_rows.{m}": median(o.payload["stream_check"]["state_rows"] for o in ops),
        "streaming.add_batch_ms": median(t["addBatch"] for t in every),
        "streaming.query_planning_ms": median(t["queryPlanning"] for t in every),
        "streaming.wal_commit_ms": median(t["walCommit"] for t in every),
        "streaming.fold_growth": median(
            ts[-1]["triggerExecution"] / ts[min(1, len(ts) - 1)]["triggerExecution"] for ts in triggers
        ),
    }


def run(ctx, generated: dict) -> Result:
    from lexam_data_pipeline_spark.plans.registry import build_queries

    corpus = str(ctx.work / "inputs" / "corpus")
    queries = build_queries()
    tables, setup_s = ctx.setup(lambda: load(ctx, corpus))
    out_root = ctx.work / "out"

    def work():
        while True:
            def step(op):
                out_dir = str(out_root / f"pass-{op.index}")
                state_dir = str(ctx.work / "state" / f"pass-{op.index}")
                op.payload.update(out_dir=out_dir, state_dir=state_dir, **one_pass(
                    ctx, corpus, tables["documents"], queries, out_dir, state_dir))

            yield "pass", step

    ops = timed_loop(ctx, ctx.seconds, work())

    # checks, outside the timed window
    batch_report = [tuple(r) for r in queries["q_readability"](ctx.spark, corpus).collect()]
    counts = pq.read_table(f"{corpus}/documents.parquet", columns=["source"]).column("source").value_counts()
    sources = {v["values"].as_py(): v["counts"].as_py() for v in counts}
    worst_recall, worst_survivors = 1.0, 0.0
    for op in ops:
        if not op.ok:
            continue
        nd = neardup_stats(op.payload["results"]["q_minhash_lsh_pairs"], generated["planted"])
        out = check_output(op.payload["out_dir"], generated)
        st = check_stream(op.payload["stream"], op.payload["state_dir"], batch_report, sources)
        op.payload.update(neardup=nd, output=out, stream_check=st)
        worst_recall = min(worst_recall, nd["recall"])
        worst_survivors = max(worst_survivors, out["near_survivor_share"])
        good = (
            nd["recall"] >= MIN_NEARDUP_RECALL
            and out["ids_subset"]
            and out["no_exact_dups"]
            and out["near_survivor_share"] <= MAX_NEAR_SURVIVORS
            and st["rows_in"] == generated["docs"]
            and st["state_counts_match"]
            and st["report_equals_batch"]
        )
        if not good:
            op.ok = False
            op.payload["error"] = f"output check failed: {nd} {out} {st}"

    res = Result(attempted=len(ops), failed=sum(not o.ok for o in ops))
    res.checks = {
        "neardup_recall": worst_recall >= MIN_NEARDUP_RECALL,
        "near_survivors": worst_survivors <= MAX_NEAR_SURVIVORS,
    }
    lat = [o.ms for o in ops]
    docs = generated["docs"]
    res.e2e = {"setup_s": setup_s, **cost_metrics(ops)}
    folds = [t["triggerExecution"] for o in ops if "stream" in o.payload for t in o.payload["stream"]["triggers"]]
    res.aliases = {
        "pass_p50_ms": median(lat), "docs_per_s": docs * len(lat) / (sum(lat) / 1000.0), "passes": len(lat),
        "cpu_ms_per_pass": res.e2e["cpu_ms_per_op"], "docs_per_cpu_s": docs / (res.e2e["cpu_ms_per_op"] / 1000.0),
        "stream_fold_p50_ms": median(folds),
        "stream_fold_p90_ms": quantile(folds, 0.9) if folds else 0.0,
        "stream_report_ms": median(o.payload["stream"]["report_ms"] for o in ops if "stream" in o.payload),
    }
    res.layers = layer_summary(ctx, ops)
    res.layers["catalog.load_ms"] = median(ctx.load_ms)
    ok = [o for o in ops if o.ok]
    if ok:
        nds = [o.payload["neardup"] for o in ok]
        res.layers["ml.lsh_candidates"] = median(n["candidates"] for n in nds)
        res.layers["ml.lsh_kept"] = median(n["kept"] for n in nds)
        res.layers["ml.lsh_precision"] = res.layers["ml.lsh_kept"] / max(1, res.layers["ml.lsh_candidates"])
        res.layers["ml.neardup_recall"] = median(n["recall"] for n in nds)
        for gate in PIPELINE_GATES:
            res.layers[f"pipeline.stage_rows.{gate}"] = median(
                o.payload["stage_rows"].get(gate, 0) for o in ok
            )
        res.layers.update(stream_layers(ok))
    res.notes = {
        "passes": len(ops),
        "docs": docs,
        "planted": {k: sum(v[0] == k for v in generated["planted"].values()) for k in ("exact", "near")},
        "emb_planted": len(generated["emb_planted"]),
        "worst_recall": worst_recall,
        "worst_near_survivors": worst_survivors,
        "stage_rows": ops[-1].payload.get("stage_rows") if ops else None,
        "errors": [o.payload["error"] for o in ops if not o.ok][:3],
    }
    return res
