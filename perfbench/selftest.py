"""Self-test of the benchmark harness (about a minute on 4 cores).

    python3 perfbench/selftest.py

Checks, without Spark: the generator is a pure function of the seed, the
oracle comparison catches a swapped doc id but accepts tied scores in
either order, the metric names and units match BENCHMARK.json, and the
span interval arithmetic. Then, with Spark, runs both workloads traced at
a tiny size and one set-up repetition: every end-to-end and per-layer
metric is emitted with its unit, and a WAND result with one swapped doc id
is reported as a failed operation with a non-zero exit.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import numpy as np  # noqa: E402

import gen  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402
from oracle import Oracle, same_topk  # noqa: E402
from spans import union_ms  # noqa: E402


def check_generator() -> None:
    def inputs(seed):
        src = gen.WordSource(np.random.default_rng([seed, 1]))
        corpus = gen.make_corpus(src, 200)
        qs, _ = gen.make_queries(np.random.default_rng([seed, 2]), corpus,
                                 20, gen.df_cache_budget(corpus))
        stream = gen.IngestStream(src, 100, 10)
        return corpus.texts, qs, stream.next_batch(), dict(stream.live)

    assert inputs(7) == inputs(7), "same seed, different inputs"
    assert inputs(7)[0] != inputs(8)[0], "seed does not change the corpus"
    texts, qs, batch, live = inputs(7)
    assert all(w.isalnum() and w.islower() for t in texts for w in t.split())
    assert {q.cls for q in qs} == set(gen.QUERY_CLASSES)
    kinds = {p.kind for p in batch}
    assert kinds == {"new", "recrawl0", "recrawl50", "recrawl100", "delete"}
    assert len({p.url for p in batch}) == len(batch)
    assert all(live.get(p.url, "") == p.text for p in batch)


def check_oracle() -> None:
    o = Oracle({1: "a b", 2: "a c c", 3: "b", 4: "a b"})
    top = o.topk("a b", 3)
    assert [d for d, _ in top][:2] == [1, 4], top
    assert same_topk(top, top) is None
    swapped = [(top[0][0], top[2][1]), top[1], (top[2][0], top[0][1])]
    assert same_topk(swapped, top) is not None, "swapped doc id accepted"
    wrong = [(3, top[0][1])] + top[1:]
    assert same_topk(wrong, top) is not None, "replaced doc id accepted"
    # docs 1 and 4 tie exactly: either order is correct
    tie = [top[1], top[0], top[2]]
    assert same_topk(tie, top, o.scores("a b")) is None
    assert o.bool_and("a b") == [1, 4] and o.bool_and("a x") == []


def check_metric_names() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == layers.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == layers.LAYER_UNITS


def check_union() -> None:
    assert union_ms([(0, 1), (0.5, 2), (3, 4)], 0, 10) == 3000.0
    assert union_ms([(0, 5)], 1, 2) == 1000.0
    assert union_ms([], 0, 1) == 0.0


def run_tiny(workload: str, inject=None):
    import run

    seen = {}

    def hook(r):
        seen["run"] = r
        if inject is not None:
            inject(r)

    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        code = run.main(["--workload", workload, "--seed", "3",
                         "--seconds", "1", "--trace", "1"],
                        sizes=workloads.TINY, inject=hook)
    result = json.loads(out.getvalue().strip().splitlines()[-1])
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == layers.LAYER_UNITS, f"{workload}: per-layer metrics differ"
    assert set(seen["run"].e2e) == set(layers.E2E_UNITS)
    assert all(v > 0 for v in seen["run"].e2e.values()), seen["run"].e2e
    return code, result


def swap_first_wand_result(r) -> None:
    """Make the first measured WAND query return its top doc id swapped
    with the second's (or an absent id when the two scores tie)."""
    from pyspark.sql import Row

    from textindexing_spark.operators.bm25 import SegmentIndex

    orig = SegmentIndex.search_bm25
    state = {"done": False}

    def search_bm25(self, query_text, k=None, **kw):
        df = orig(self, query_text, k, **kw)
        rows = df.collect()
        measured = any(sp.name == "serve.query" for sp in r.tracer._stack)
        if state["done"] or not measured or not rows:
            return df
        state["done"] = True
        ids = [x["doc_id"] for x in rows]
        if len(rows) > 1 and rows[0]["score"] != rows[1]["score"]:
            ids[0], ids[1] = ids[1], ids[0]
        else:
            ids[0] = -1
        return r.spark.createDataFrame(
            [Row(doc_id=d, score=x["score"]) for d, x in zip(ids, rows)],
            "doc_id bigint, score double")

    SegmentIndex.search_bm25 = search_bm25


def main() -> int:
    check_generator()
    check_oracle()
    check_metric_names()
    check_union()
    print("selftest: generator, oracle, metric names, spans ok")
    code, result = run_tiny("ingest")
    assert code == 0 and result["correct"] and result["failed"] == 0, result
    print(f"selftest: ingest traced ok ({result['attempted']} operations)")
    code, result = run_tiny("serve", inject=swap_first_wand_result)
    assert code == 1 and not result["correct"], result
    assert result["failed"] == 1, result
    print("selftest: serve traced ok, injected wrong WAND result caught")
    return 0


if __name__ == "__main__":
    sys.exit(main())
