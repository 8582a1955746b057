"""The benchmark's workloads: serve and ingest.

Serve sets up ``Sizes.serve_setups`` times and reports the median of the
warm repetitions as ``setup_s``: the first repetition is cold (JVM code
generation and Python-worker start land in it). The serve set-up is a
full build of both tiers, so the build layers are measured there.
Untimed warm-up batches and queries follow it (``WARM_ROUNDS``).
Ingest sets up once, cold: a second set-up does not fit its run next to
three batches. The workload then measures for ``seconds`` (ingest: and
at least ``Sizes.min_batches`` batches) and checks every result against
the pure-Python oracle after the clock stops.

End-to-end metrics are the same on both workloads; each reads them for
its own operations (see README.md):

- ``catalyst_p50_ms`` / ``segment_p50_ms``: median latency of one
  operation on the Catalyst tier (``Index`` / ``BucketedIndexStore``)
  and on the segment tier (``SegmentIndex`` / ``VersionedSegmentStore``);
- ``catalyst_per_s`` / ``segment_per_s``: the tier's throughput, in
  batched queries per second (serve) or ingested rows per second
  (ingest);
- ``index_bytes_per_text_byte``: bytes of a saved segment index over the
  UTF-8 bytes of the text it indexes.
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

import gen
from oracle import Oracle, same_topk
from spans import Tracer, tracker_ms

# serving settings, sized for local[4]: 4 document shards (one per core;
# the per-(shard, term) encode cost grows with the shard count) and 4 query
# groups (one WAND task per core per query)
N_SHARDS = 4
QUERY_GROUPS = 4
K = 10
# share of a serve run spent in the interactive loop; the rest is the
# batch phase
SERVE_LOOP_SHARE = 0.5
# untimed interactive rounds before a serve run's clock starts
WARM_ROUNDS = 3


@dataclass(frozen=True)
class Sizes:
    serve_docs: int = 400
    queries: int = 120
    batch_queries: int = 24
    ingest_base: int = 100
    # 20 rows give the ingest mix exactly: 8 new, 3 of each re-crawl kind,
    # 3 deletes
    ingest_batch: int = 20
    serve_setups: int = 2
    # an ingest run holds at least this many batches, so its median and
    # its rate are not the same sample
    min_batches: int = 3


TINY = Sizes(serve_docs=300, queries=40, batch_queries=4, ingest_base=60,
             serve_setups=1, min_batches=1)


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    work: str
    tracer: Tracer
    sizes: Sizes = field(default_factory=Sizes)
    attempted: int = 0
    failures: dict = field(default_factory=dict)
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    props: dict = field(default_factory=dict)
    texts: list = field(default_factory=list)  # corpus for in-process layers

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream])

    def span(self, name, qid=None, **attrs):
        return self.tracer.span(name, qid, **attrs)

    def op(self, key: str, fn):
        """Run one measured operation; an exception counts it failed."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # the measuring loop must keep running
            traceback.print_exc(file=sys.stderr)
            self.failures[key] = f"raised {exc!r}"
            return None

    def fail(self, key: str, reason: str | None) -> None:
        if reason and key not in self.failures:
            self.failures[key] = reason


def timed(fn):
    t = time.perf_counter()
    out = fn()
    return out, (time.perf_counter() - t) * 1e3


def docs_frame(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id bigint, text string")


def pages_frame(spark, pages):
    epoch = dt.datetime(2024, 1, 1)
    rows = [(p.url, epoch + dt.timedelta(seconds=p.warc_ts), p.text)
            for p in pages]
    return spark.createDataFrame(rows,
                                 "url string, warc_ts timestamp, text string")


def tree(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def topk_rows(rows):
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def _r(values):
    return [round(v, 3) for v in values]


def _counts_reason(tier, terms_df, oracle: Oracle) -> str | None:
    """Term count and df sum of a built dictionary vs the generator's."""
    from pyspark.sql import functions as F

    terms, df_sum = terms_df.agg(F.count("*"), F.sum("df")).collect()[0]
    if (terms, df_sum) != (oracle.term_count(), oracle.df_sum()):
        return (f"{tier}: {terms} terms / df sum {df_sum}, oracle "
                f"{oracle.term_count()} / {oracle.df_sum()}")
    return None


# --------------------------------------------------------------------- serve

def serve(run: Run) -> None:
    from textindexing_spark.operators.bm25 import (SegmentIndex,
                                                   build_segments_from_docs)
    from textindexing_spark.operators.build import build_index

    spark, sizes = run.spark, run.sizes
    src = gen.WordSource(run.rng(1))
    corpus = gen.make_corpus(src, sizes.serve_docs)
    oracle = Oracle(dict(enumerate(corpus.texts)))
    budget = gen.df_cache_budget(corpus)
    n_warm = WARM_ROUNDS + sizes.batch_queries
    queries, qprops = gen.make_queries(run.rng(2), corpus,
                                       n_warm + sizes.queries, budget)
    warm_queries, queries = queries[:n_warm], queries[n_warm:]
    run.texts = corpus.texts
    run.props = {"workload": "serve", "docs": len(corpus.texts),
                 "indexed_docs": oracle.n, **qprops}

    docs = docs_frame(spark, corpus.texts).cache()
    idx = seg = None
    setups = []
    path = f"{run.work}/serving"
    for r in range(sizes.serve_setups):
        for old in (idx, seg):
            if old is not None:
                old.unpersist()
        shutil.rmtree(path, ignore_errors=True)
        t = time.perf_counter()
        with run.span("serve.setup"):
            with run.span("build.catalyst"):
                idx = build_index(spark, docs).cache()
                idx.postings.count()
                idx.documents.count()
            with run.span("build.segment"):
                with run.span("segment.encode"):
                    built = build_segments_from_docs(spark, docs,
                                                     n_shards=N_SHARDS)
                with run.span("segment.save"):
                    built.save(path)
            built.unpersist()
            seg = SegmentIndex.load(spark, path)
            with run.span("prepare"):
                idx.prepare_for_queries(prefetch_stats=budget)
                seg.prepare_for_queries(query_groups=QUERY_GROUPS,
                                        prefetch_stats=budget)
        setups.append(time.perf_counter() - t)
        run.attempted += 2
        run.fail(f"setup{r}.catalyst",
                 _counts_reason("catalyst", idx.postings, oracle))
        run.fail(f"setup{r}.segment",
                 _counts_reason("segment", seg.term_stats, oracle))
    index_ratio = sum(tree(path).values()) / corpus.text_bytes()
    cache_mb = storage_mb(spark)
    # tail words the prepared df caches of both tiers miss (should be all)
    tail = gen.tail_terms(queries)
    run.props["tail_terms_outside_df_cache_share"] = round(sum(
        t not in seg._df_cache and t not in idx._df_cache for t in tail)
        / len(tail), 4)
    # a session's first queries pay one-off work (corpus stats, plan
    # caches), and the Catalyst planner keeps getting faster over them:
    # untimed rounds of warm-up queries before the clock starts. The
    # warm-up queries come from the same stream, so they use no tail or
    # needle word of a measured query.
    t = time.perf_counter()
    for q in warm_queries[:WARM_ROUNDS]:
        idx.search_bm25(q.text, K).collect()
        seg.search_bm25(q.text, K).collect()
        idx.search_bool(q.text).collect()
    warm_s = time.perf_counter() - t
    if run.traced:
        run.layers["segment.posting_lists"] = float(seg.segments.count())

    per_tier = {"bm25": [], "wand": [], "bool": []}
    results = []  # (query, {tier: (rows, ms) or None if it raised})
    # cycles only if a run outlasts the stream (repeats then hit caches)
    stream = itertools.cycle(queries)
    # a round starts only if it is expected to end within its phase, so a
    # run does not overrun its seconds by a round
    t0 = time.perf_counter()
    loop_end = t0 + SERVE_LOOP_SHARE * run.seconds
    last = 0.0
    while not results or time.perf_counter() + last <= loop_end:
        t_round = time.perf_counter()
        q = next(stream)
        out = {}
        with run.span("serve.query", qid=q.qid, cls=q.cls):
            for tier, plan in (("bm25", lambda: idx.search_bm25(q.text, K)),
                               ("wand", lambda: seg.search_bm25(q.text, K)),
                               ("bool", lambda: idx.search_bool(q.text))):
                out[tier] = run.op(f"{q.qid}.{tier}",
                                   lambda: _plan_exec(run, tier, plan))
        for tier, got in out.items():
            if got is not None:
                per_tier[tier].append(got[1])
        results.append((q, out))
        last = time.perf_counter() - t_round
    # the first batch after the interactive loop is slow again: one
    # untimed batch per API of the warm-up queries before the batch clock
    t = time.perf_counter()
    wmap = {q.qid: q.text for q in warm_queries}
    idx.search_bm25_many(wmap, K).collect()
    seg.search_bm25_many(wmap, K).collect()
    idx.search_bool_many(wmap).collect()
    warm_s += time.perf_counter() - t
    run.props["warm_up_s"] = round(warm_s, 3)
    batches = []
    end = time.perf_counter() + (1 - SERVE_LOOP_SHARE) * run.seconds
    last = 0.0
    while not batches or time.perf_counter() + last <= end:
        t_round = time.perf_counter()
        chunk = [next(stream) for _ in range(sizes.batch_queries)]
        qmap = {q.qid: q.text for q in chunk}
        out = {}
        with run.span("serve.batch"):
            for tier, fn in (
                    ("bm25_batch", lambda: idx.search_bm25_many(qmap, K)),
                    ("wand_batch", lambda: seg.search_bm25_many(qmap, K)),
                    ("bool_batch", lambda: idx.search_bool_many(qmap))):
                def once(fn=fn, tier=tier):
                    with run.span(tier):
                        return timed(lambda: fn().collect())
                out[tier] = run.op(f"batch{len(batches)}.{tier}", once)
        batches.append((chunk, out))
        last = time.perf_counter() - t_round

    if run.traced:
        # after the clock: which shards each WAND query scheduled
        for q, _ in results:
            sp = [s for s in run.tracer.named("serve.query")
                  if s.qid == q.qid][0]
            ex = seg.explain_shards(q.text)
            sp.attrs["shards_scheduled_share"] = (
                ex["n_scheduled"] / ex["n_shards"])

    t_check = time.perf_counter()
    _check_serve(run, oracle, results, batches)
    run.props["check_s"] = round(time.perf_counter() - t_check, 3)
    # a tier's batch rate is read off its median batch time, so one batch
    # slowed by the VM does not set a run's rate
    batch_ms = {tier: [o[tier][1] for _, o in batches if o[tier]]
                for tier in ("bm25_batch", "wand_batch", "bool_batch")}
    qps = {tier: sizes.batch_queries / (statistics.median(v) / 1e3)
           for tier, v in batch_ms.items()}
    run.e2e = {
        "setup_s": statistics.median(setups[1:] or setups),
        "catalyst_p50_ms": statistics.median(per_tier["bm25"]),
        "segment_p50_ms": statistics.median(per_tier["wand"]),
        "catalyst_per_s": qps["bm25_batch"],
        "segment_per_s": qps["wand_batch"],
        "index_bytes_per_text_byte": index_ratio,
    }
    run.layers.update({
        "bool.p50_ms": statistics.median(per_tier["bool"]),
        "bool_batch.qps": qps["bool_batch"],
        "prepare.serving_cache_mb": cache_mb,
    })
    run.props.update({"setup_samples_s": _r(setups),
                      **{f"{t}_ms": _r(v) for t, v in per_tier.items()},
                      **{f"{t}_ms": _r(v) for t, v in batch_ms.items()},
                      "interactive_queries": len(results),
                      "batches": len(batches)})
    for o in (idx, seg, docs):
        o.unpersist()


def _plan_exec(run: Run, tier: str, plan):
    """(rows, wall ms): the DataFrame is built under ``<tier>.plan`` and
    collected under ``<tier>.exec``."""
    t = time.perf_counter()
    with run.span(f"{tier}.plan"):
        df = plan()
    with run.span(f"{tier}.exec") as sp:
        rows = df.collect()
    ms = (time.perf_counter() - t) * 1e3
    if run.traced:
        sp.attrs["catalyst_ms"] = tracker_ms(df)
    return rows, ms


def _check_serve(run, oracle: Oracle, results, batches) -> None:
    for q, out in results:
        want = oracle.topk(q.text, K)
        full = oracle.scores(q.text)
        bm25, wand, boolr = (out.get(t) for t in ("bm25", "wand", "bool"))
        if bm25 is not None:
            run.fail(f"{q.qid}.bm25", same_topk(topk_rows(bm25[0]), want,
                                                full))
        if wand is not None:
            run.fail(f"{q.qid}.wand", same_topk(topk_rows(wand[0]), want,
                                                full))
            if bm25 is not None:
                run.fail(f"{q.qid}.wand", same_topk(
                    topk_rows(wand[0]), topk_rows(bm25[0]), full))
        if boolr is not None:
            got = [int(r["doc_id"]) for r in boolr[0]]
            if got != oracle.bool_and(q.text):
                run.fail(f"{q.qid}.bool", f"bool {len(got)} docs differ")
    for b, (chunk, out) in enumerate(batches):
        for tier, kind in (("bm25_batch", "bm25"), ("wand_batch", "bm25"),
                           ("bool_batch", "bool")):
            if out[tier] is not None:
                _check_many(run, f"batch{b}.{tier}", kind, out[tier][0],
                            chunk, oracle)


def _check_many(run, key, kind, rows, queries, oracle: Oracle) -> None:
    """Check a ``search_*_many`` result (rows keyed by query_id) per query:
    BM25 top-k (``kind`` "bm25") or the boolean AND doc list ("bool")."""
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(
            int(r["doc_id"]) if kind == "bool"
            else (int(r["doc_id"]), float(r["score"])))
    for q in queries:
        got = by_q.get(q.qid, [])
        if kind == "bool":
            reason = (None if got == oracle.bool_and(q.text)
                      else "bool differs")
        else:
            reason = same_topk(got, oracle.topk(q.text, K),
                               oracle.scores(q.text))
        run.fail(key, reason and f"{q.qid}: {reason}")


def storage_mb(spark) -> float:
    """Memory and disk held by cached RDDs/DataFrames (Spark storage)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


# -------------------------------------------------------------------- ingest

def ingest(run: Run) -> None:
    from textindexing_spark.streaming.ingest import (StreamingIngestor,
                                                     StreamingSegmentIngestor)

    spark, sizes = run.spark, run.sizes
    src = gen.WordSource(run.rng(1))
    stream = gen.IngestStream(src, sizes.ingest_base, sizes.ingest_batch)
    base_corpus = gen.Corpus([p.text for p in stream.base],
                             gen.document_frequencies(
                                 p.text for p in stream.base))
    queries, _ = gen.make_queries(run.rng(2), base_corpus, 8,
                                  gen.df_cache_budget(base_corpus))
    run.texts = base_corpus.texts
    run.props = {"workload": "ingest", "base_docs": len(stream.base),
                 "batch_rows": sizes.ingest_batch,
                 "vocabulary": len(base_corpus.df)}

    base = pages_frame(spark, stream.base)
    root = f"{run.work}/ingest"
    t = time.perf_counter()
    with run.span("ingest.setup"):
        seg_ing = StreamingSegmentIngestor(spark, f"{root}/segment",
                                           n_shards=N_SHARDS)
        seg_ing.process_batch(base)
        bkt_ing = StreamingIngestor(spark, f"{root}/bucketed")
        bkt_ing.process_batch(base)
    setup_s = time.perf_counter() - t

    ms = {"segment": [], "bucketed": []}
    fresh = []  # (batch, query, rows, live corpus after the batch, ms)
    written = {"segment": [], "bucketed": []}
    batch_urls = []
    kinds = Counter()
    # closed loop, one writer: a batch starts while the run has time left
    # or holds fewer than min_batches batches; a started batch completes
    t0 = time.perf_counter()
    b = 0
    while b < sizes.min_batches or time.perf_counter() - t0 < run.seconds:
        pages = stream.next_batch()
        live = dict(stream.live)
        batch_urls.append([p.url for p in pages])
        kinds.update(p.kind for p in pages)
        text_bytes = sum(len(p.text.encode()) for p in pages)
        df = pages_frame(spark, pages)
        for tier, ing in (("segment", seg_ing), ("bucketed", bkt_ing)):
            before = tree(ing.index_root)

            def batch(tier=tier, ing=ing):
                with run.span(f"ingest.{tier}_batch"):
                    return ing.process_batch(df, epoch_id=b)

            v, t_ms = timed(lambda: run.op(f"batch{b}.{tier}", batch))
            if v is not None:
                ms[tier].append(t_ms)
                after = tree(ing.index_root)
                new = {p: s for p, s in after.items()
                       if before.get(p) != s}
                written[tier].append((sum(new.values()) / text_bytes,
                                      len(new)))
            if tier == "segment":
                q = queries[b % len(queries)]

                def fresh_query():
                    with run.span("ingest.fresh_wand", qid=q.qid):
                        with run.span("store.load"):
                            s = seg_ing.store.load()
                        with run.span("wand.exec"):
                            return s.search_bm25(q.text, K).collect()

                rows, q_ms = timed(lambda: run.op(f"fresh{b}", fresh_query))
                fresh.append((b, q, rows, live, q_ms))
        b += 1
    run.props["measure_s"] = round(time.perf_counter() - t0, 3)

    t_check = time.perf_counter()
    seg_ids = {r["url"]: r["doc_id"]
               for r in seg_ing.url_ids.mapping().collect()}
    _check_ingest(run, seg_ids, seg_ing, bkt_ing, fresh, stream.live,
                  queries)
    run.props["check_s"] = round(time.perf_counter() - t_check, 3)
    seg_dir = f"{seg_ing.index_root}/v{max(seg_ing.store.versions())}"
    live_bytes = sum(len(t.encode()) for t in stream.live.values())
    rows = sizes.ingest_batch
    run.e2e = {
        "setup_s": setup_s,
        "catalyst_p50_ms": statistics.median(ms["bucketed"]),
        "segment_p50_ms": statistics.median(ms["segment"]),
        "catalyst_per_s": rows * len(ms["bucketed"])
                          / (sum(ms["bucketed"]) / 1e3),
        "segment_per_s": rows * len(ms["segment"])
                         / (sum(ms["segment"]) / 1e3),
        "index_bytes_per_text_byte": sum(tree(seg_dir).values()) / live_bytes,
    }
    run.layers.update({
        "ingest.fresh_wand_p50_ms": statistics.median(
            f[4] for f in fresh if f[2] is not None),
        "ingest.segment_bytes_written_per_text_byte":
            statistics.median(w[0] for w in written["segment"]),
        "ingest.bucketed_bytes_written_per_text_byte":
            statistics.median(w[0] for w in written["bucketed"]),
        "ingest.segment_files_written":
            statistics.median(w[1] for w in written["segment"]),
        "ingest.bucketed_files_written":
            statistics.median(w[1] for w in written["bucketed"]),
    })
    n_rows = sum(kinds.values())
    run.props.update({"batches": b,
                      "batch_kind_share": {k: round(kinds[k] / n_rows, 4)
                                           for k, _ in gen.INGEST_MIX},
                      **{f"{t}_batch_ms": _r(v) for t, v in ms.items()},
                      "fresh_wand_ms": _r(f[4] for f in fresh),
                      "segment_shards_touched_share":
                          _touched_share(seg_ids, batch_urls)})


def _touched_share(ids, batch_urls) -> float:
    """Median over batches of the share of segment shards the batch's
    documents route to (Spark's hash partitioning of doc_id)."""
    from textindexing_spark.operators.codec import spark_hash_long

    shares = []
    for urls in batch_urls:
        h = spark_hash_long(np.array([ids[u] for u in urls], np.int64))
        shares.append(len(set(np.mod(h, N_SHARDS).tolist())) / N_SHARDS)
    return statistics.median(shares)


def _check_ingest(run, seg_ids, seg_ing, bkt_ing, fresh, final_live,
                  queries) -> None:
    for b, q, rows, live, _ in fresh:
        if rows is None:
            continue
        oracle = Oracle({seg_ids[u]: t for u, t in live.items()})
        run.fail(f"fresh{b}", same_topk(topk_rows(rows),
                                        oracle.topk(q.text, K),
                                        oracle.scores(q.text)))
    # both ingestors' latest versions against the final live corpus, one
    # batched call per tier
    sample = [queries[i] for i in
              run.rng(3).choice(len(queries), size=4, replace=False)]
    qmap = {q.qid: q.text for q in sample}
    bkt_ids = {r["url"]: r["doc_id"]
               for r in bkt_ing.url_ids.mapping().collect()}
    seg_o = Oracle({seg_ids[u]: t for u, t in final_live.items()})
    bkt_o = Oracle({bkt_ids[u]: t for u, t in final_live.items()})
    seg_latest = seg_ing.store.load()
    bkt_latest = bkt_ing.store.load()
    run.attempted += 2
    _check_many(run, "final.segment", "bm25",
                seg_latest.search_bm25_many(qmap, K).collect(), sample, seg_o)
    _check_many(run, "final.bucketed", "bm25",
                bkt_latest.search_bm25_many(qmap, K).collect(), sample, bkt_o)


WORKLOADS = {"serve": serve, "ingest": ingest}
