"""Metric names and units, and the per-layer metrics of a traced run.

Per-layer metrics are the same set on every workload; a layer the
workload does not exercise reads 0 (for example ``wand.*`` on ingest).
Per-operation values are medians over the run's operations.
"""

from __future__ import annotations

import inspect
import re
import statistics
import time
from collections import Counter

from workloads import N_SHARDS

E2E_UNITS = {
    "setup_s": "s",
    "catalyst_p50_ms": "ms",
    "segment_p50_ms": "ms",
    "catalyst_per_s": "1/s",
    "segment_per_s": "1/s",
    "index_bytes_per_text_byte": "ratio",
}

QUERY_TIERS = ("bm25", "wand", "bool")
CLASSES = ("head", "mid", "tail", "needle")
MB = 2**20


def layer_units() -> dict[str, str]:
    u = {
        "tokenize.docs_per_s": "1/s",
        "codec.encode_mb_per_s": "MB/s",
        "codec.decode_mb_per_s": "MB/s",
        "codec.bytes_per_posting": "B",
    }
    for p in ("build", "segment"):
        u.update({f"{p}.tasks": "count", f"{p}.python_init_ms": "ms",
                  f"{p}.python_run_ms": "ms", f"{p}.shuffle_write_mb": "MB",
                  f"{p}.gc_ms": "ms"})
    u.update({"build.tokenize_ms": "ms", "build.postings_ms": "ms",
              "build.arrow_to_python_mb": "MB", "segment.encode_ms": "ms",
              "segment.save_ms": "ms", "segment.posting_lists": "count"})
    for t in QUERY_TIERS:
        u.update({f"{t}.plan_ms": "ms", f"{t}.catalyst_ms": "ms",
                  f"{t}.exec_ms": "ms", f"{t}.jobs_per_query": "count",
                  f"{t}.tasks_per_query": "count",
                  f"{t}.driver_gap_ms": "ms"})
        for c in CLASSES:
            u[f"{t}.exec_ms.{c}"] = "ms"
    u.update({"bm25.shuffle_kb_per_query": "KB",
              "bool.shuffle_kb_per_query": "KB",
              "wand.python_init_ms_per_query": "ms",
              "wand.python_run_ms_per_query": "ms",
              "wand.arrow_kb_per_query": "KB",
              "wand.stats_job_share": "ratio",
              "wand.shards_scheduled_share": "ratio"})
    for c in CLASSES:
        u.update({f"wand.plan_ms.{c}": "ms",
                  f"wand.stats_job_share.{c}": "ratio",
                  f"wand.shards_scheduled_share.{c}": "ratio"})
    u.update({"wand_batch.tasks": "count", "wand_batch.python_run_ms": "ms",
              "wand_batch.arrow_mb": "MB", "bm25_batch.tasks": "count",
              "bm25_batch.shuffle_mb": "MB", "bool_batch.tasks": "count",
              "bool_batch.shuffle_mb": "MB", "bool.p50_ms": "ms",
              "bool_batch.qps": "1/s", "prepare.ms": "ms",
              "prepare.serving_cache_mb": "MB"})
    u.update({"ingest.segment_batch_ms": "ms",
              "ingest.bucketed_batch_ms": "ms",
              "ingest.segment_bytes_written_per_text_byte": "ratio",
              "ingest.bucketed_bytes_written_per_text_byte": "ratio",
              "ingest.segment_files_written": "count",
              "ingest.bucketed_files_written": "count",
              "ingest.urlids_ms": "ms", "ingest.commit_ms": "ms",
              "ingest.merge_ms": "ms", "ingest.unattributed_ms": "ms",
              "ingest.fresh_wand_p50_ms": "ms", "store.load_ms": "ms"})
    u.update({"spans.failed_tasks": "count",
              "spans.leaf_job_cover": "ratio",
              "trace.setup_s": "s", "trace.catalyst_p50_ms": "ms",
              "trace.segment_p50_ms": "ms"})
    return u


LAYER_UNITS = layer_units()


def med(values, default=0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default


def per_layer(run, jobs) -> dict[str, tuple[float, str]]:
    """Every per-layer metric of a traced run, as {name: (value, unit)}."""
    tr = run.tracer
    m = dict.fromkeys(LAYER_UNITS, 0.0)
    m.update({k: v for k, v in run.layers.items() if k in m})

    # operators.build / operators.bm25 build side
    cat = tr.named("build.catalyst")
    if cat:
        c = _med_counters(cat)
        py_ms = [sum(s["ms"] for j in sp.job_ids
                     for s in jobs[j]["stage_ms"].values() if s["python"])
                 for sp in cat]
        all_ms = [sum(s["ms"] for j in sp.job_ids
                      for s in jobs[j]["stage_ms"].values()) for sp in cat]
        m.update({"build.tokenize_ms": med(py_ms),
                  "build.postings_ms": med(a - p for a, p in
                                           zip(all_ms, py_ms)),
                  "build.tasks": c["tasks"],
                  "build.python_init_ms": c["python_init_ms"],
                  "build.python_run_ms": c["python_run_ms"],
                  "build.arrow_to_python_mb":
                      c["arrow_to_python_bytes"] / MB,
                  "build.shuffle_write_mb": c["shuffle_write_bytes"] / MB,
                  "build.gc_ms": c["gc_ms"]})
    seg = tr.named("build.segment")
    if seg:
        c = _med_counters(seg)
        m.update({"segment.encode_ms": med(s.wall_ms for s in
                                           tr.named("segment.encode")),
                  "segment.save_ms": med(s.wall_ms for s in
                                         tr.named("segment.save")),
                  "segment.tasks": c["tasks"],
                  "segment.python_init_ms": c["python_init_ms"],
                  "segment.python_run_ms": c["python_run_ms"],
                  "segment.shuffle_write_mb": c["shuffle_write_bytes"] / MB,
                  "segment.gc_ms": c["gc_ms"]})

    # operators.query / operators.bm25 serve side
    queries = tr.named("serve.query")
    if queries:
        m.update(_query_metrics(tr, queries, jobs))
    for tier, key in (("wand_batch", "arrow"), ("bm25_batch", "shuffle"),
                      ("bool_batch", "shuffle")):
        spans = tr.named(tier)
        if not spans:
            continue
        c = _med_counters(spans)
        m[f"{tier}.tasks"] = c["tasks"]
        if key == "arrow":
            m["wand_batch.python_run_ms"] = c["python_run_ms"]
            m["wand_batch.arrow_mb"] = (c["arrow_to_python_bytes"]
                                        + c["arrow_from_python_bytes"]) / MB
        else:
            m[f"{tier}.shuffle_mb"] = c["shuffle_write_bytes"] / MB
    m["prepare.ms"] = med(s.wall_ms for s in tr.named("prepare"))

    # streaming.ingest and the sources it commits through
    if tr.named("ingest.segment_batch"):
        m.update(_ingest_metrics(tr, jobs))

    m.update(_in_process(run))
    leaves = [s for s in tr.spans if not tr.children(s) and s.wall_ms > 0]
    m["spans.failed_tasks"] = sum(s.counters.get("failed_tasks", 0)
                                  for s in tr.spans if s.parent is None)
    m["spans.leaf_job_cover"] = med(s.job_union_ms / s.wall_ms
                                    for s in leaves)
    for k in ("setup_s", "catalyst_p50_ms", "segment_p50_ms"):
        m[f"trace.{k}"] = run.e2e[k]
    return {k: (float(v), LAYER_UNITS[k]) for k, v in m.items()}


def _med_counters(spans) -> dict:
    return {k: med(s.counters[k] for s in spans) for k in spans[0].counters}


def _stats_lines() -> tuple[str, range]:
    from textindexing_spark.operators.bm25 import SegmentIndex

    lines, start = inspect.getsourcelines(SegmentIndex._term_dfs)
    return "bm25.py", range(start, start + len(lines))


_CALL_SITE = re.compile(r"at (.*?):(\d+)$")


def _site(job) -> tuple[str, int] | None:
    m = _CALL_SITE.search(job.get("call_site") or "")
    if not m:
        return None
    return m.group(1).rsplit("/", 1)[-1], int(m.group(2))


def _query_metrics(tr, queries, jobs) -> dict:
    stats_file, stats_lines = _stats_lines()
    per = {t: [] for t in QUERY_TIERS}  # (cls, dict) per query and tier
    for q in queries:
        kids = {k.name: k for k in tr.children(q)}
        for t in QUERY_TIERS:
            plan, ex = kids.get(f"{t}.plan"), kids.get(f"{t}.exec")
            if plan is None or ex is None:
                continue
            job_ids = plan.job_ids + ex.job_ids
            c = {k: plan.counters[k] + ex.counters[k] for k in ex.counters}
            stats = any((s := _site(jobs[j])) and s[0] == stats_file
                        and s[1] in stats_lines for j in job_ids)
            per[t].append((q.attrs.get("cls"), {
                "plan_ms": plan.wall_ms, "exec_ms": ex.wall_ms,
                "catalyst_ms": ex.attrs.get("catalyst_ms", 0.0),
                "jobs": len(job_ids), "tasks": c["tasks"],
                "python_init_ms": c["python_init_ms"],
                "python_run_ms": c["python_run_ms"],
                "arrow_kb": (c["arrow_to_python_bytes"]
                             + c["arrow_from_python_bytes"]) / 1024,
                "shuffle_kb": c["shuffle_write_bytes"] / 1024,
                "driver_gap_ms": ex.wall_ms - ex.job_union_ms,
                "stats": float(stats),
                "shards": q.attrs.get("shards_scheduled_share", 0.0)}))
    m = {}
    for t, rows in per.items():
        def agg(key, cls=None, rows=rows):
            return med(d[key] for c, d in rows if cls in (None, c))

        m.update({f"{t}.plan_ms": agg("plan_ms"),
                  f"{t}.catalyst_ms": agg("catalyst_ms"),
                  f"{t}.exec_ms": agg("exec_ms"),
                  f"{t}.jobs_per_query": agg("jobs"),
                  f"{t}.tasks_per_query": agg("tasks"),
                  f"{t}.driver_gap_ms": agg("driver_gap_ms")})
        for c in CLASSES:
            m[f"{t}.exec_ms.{c}"] = agg("exec_ms", c)
        if t == "wand":
            share = statistics.fmean
            m.update({
                "wand.python_init_ms_per_query": agg("python_init_ms"),
                "wand.python_run_ms_per_query": agg("python_run_ms"),
                "wand.arrow_kb_per_query": agg("arrow_kb"),
                "wand.stats_job_share": share(d["stats"] for _, d in rows),
                "wand.shards_scheduled_share":
                    share(d["shards"] for _, d in rows)})
            for c in CLASSES:
                sub = [d for k, d in rows if k == c]
                m[f"wand.plan_ms.{c}"] = agg("plan_ms", c)
                if sub:
                    m[f"wand.stats_job_share.{c}"] = share(
                        d["stats"] for d in sub)
                    m[f"wand.shards_scheduled_share.{c}"] = share(
                        d["shards"] for d in sub)
        else:
            m[f"{t}.shuffle_kb_per_query"] = agg("shuffle_kb")
    return m


# engine file of a job's Python call site -> ingest layer
_INGEST_LAYERS = {"urlids.py": "urlids", "catalog.py": "commit",
                  "bucketed.py": "commit", "bm25.py": "merge"}


def _ingest_metrics(tr, jobs) -> dict:
    """Split the jobs inside each batch's two ``process_batch`` calls by
    the engine file Spark recorded as the job's call site. Job time is
    submission to completion; per batch, summed over both ingestors."""
    seg, bkt = tr.named("ingest.segment_batch"), tr.named("ingest.bucketed_batch")
    per_batch = []
    for pair in zip(seg, bkt):
        ms = dict.fromkeys(("urlids", "commit", "merge", "unattributed"), 0.0)
        for sp in pair:
            for j in sp.job_ids:
                site = _site(jobs[j])
                layer = _INGEST_LAYERS.get(site[0]) if site else None
                ms[layer or "unattributed"] += (jobs[j]["end"]
                                               - jobs[j]["submit"]) * 1e3
        per_batch.append(ms)
    return {
        "ingest.segment_batch_ms": med(s.wall_ms for s in seg),
        "ingest.bucketed_batch_ms": med(s.wall_ms for s in bkt),
        **{f"ingest.{k}_ms": med(b[k] for b in per_batch)
           for k in ("urlids", "commit", "merge", "unattributed")},
        "store.load_ms": med(s.wall_ms for s in tr.named("store.load")),
    }


# in-process layer timings: each is repeated for at least BUDGET_S over
# at most MAX_LISTS posting lists (the sample bounds the time the per-list
# Python overhead costs)
BUDGET_S = 0.3
MAX_LISTS = 2000


def _in_process(run) -> dict:
    """functions.tokenize and operators.codec, timed in this process over
    the workload's own corpus: ``tokenize_series`` over its first 1000
    documents, and ``encode_postings`` / ``decode_postings`` over an evenly
    spaced sample of at most ``MAX_LISTS`` of its per-shard posting lists."""
    import numpy as np
    import pandas as pd

    from textindexing_spark.functions.tokenize import tokenize_series
    from textindexing_spark.operators import codec

    texts = pd.Series(run.texts[:1000])
    n, t0 = 0, time.perf_counter()
    while n == 0 or time.perf_counter() - t0 < BUDGET_S:
        tokenize_series(texts)
        n += len(texts)
    docs_per_s = n / (time.perf_counter() - t0)

    ids = np.arange(len(run.texts), dtype=np.int64)
    shard = np.mod(codec.spark_hash_long(ids).astype(np.int64), N_SHARDS)
    by_list: dict[tuple[int, str], tuple[list, list, list]] = {}
    for d, text in enumerate(run.texts):
        words = text.split()
        for w, tf in Counter(words).items():
            ds, ts, ls = by_list.setdefault((int(shard[d]), w), ([], [], []))
            ds.append(d)
            ts.append(tf)
            ls.append(len(words))
    sample = list(by_list.values())[::max(1, len(by_list) // MAX_LISTS)]
    lists = [tuple(np.asarray(x, np.int64) for x in v) for v in sample]
    n_post = sum(len(a) for a, _, _ in lists)
    enc, reps, t0 = None, 0, time.perf_counter()
    while reps == 0 or time.perf_counter() - t0 < BUDGET_S:
        enc = [codec.encode_postings(d, t, doc_lens=dl) for d, t, dl in lists]
        reps += 1
    enc_s = (time.perf_counter() - t0) / reps
    n_bytes = sum(len(g) + len(t) for g, t, _ in enc)
    reps, t0 = 0, time.perf_counter()
    while reps == 0 or time.perf_counter() - t0 < BUDGET_S:
        for g, t, blocks in enc:
            codec.decode_postings(g, t, blocks)
        reps += 1
    dec_s = (time.perf_counter() - t0) / reps
    return {"tokenize.docs_per_s": docs_per_s,
            "codec.encode_mb_per_s": n_bytes / MB / enc_s,
            "codec.decode_mb_per_s": n_bytes / MB / dec_s,
            "codec.bytes_per_posting": n_bytes / n_post}
