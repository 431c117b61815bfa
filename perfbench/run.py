"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: serve_head, serve_tail, spark (see README.md).
Prepares and caches inputs, runs the workload in a fresh worker process,
checks its answers against the pure-Python oracle, and prints one JSON
line last: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones from a traced run. The line before it records the input
shape.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

T0 = time.time()
FIRST_RUN_LIMIT_S = 880
RUN_LIMIT_S = 175

HEAD_STREAM = 2000
TAIL_STREAM = 1000
SPARK_ROUNDS = 2
N_CHECK = 40
HEAD_TRACE_OPS = 300


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _left(first: bool) -> float:
    return (FIRST_RUN_LIMIT_S if first else RUN_LIMIT_S) - (time.time() - T0)


def prepare(workload: str) -> tuple[dict, bool]:
    """Every cached input (so the first run of any workload pays for all
    of them). Returns (this workload's inputs, whether this is the first)."""
    import prep

    first = not os.path.exists(prep.index_dir(prep.corpus_dir(common.CORPUS_SEED, common.SERVE_PAGES)))
    serve = prep.ensure_corpus(common.CORPUS_SEED, common.SERVE_PAGES)
    small = prep.ensure_corpus(common.CORPUS_SEED, common.SMALL_PAGES)
    serve_idx = prep.ensure_index(serve, _left(True))
    for c in (serve, small):
        prep.ensure_expected(c, "search", [], _left(True))
    if workload == "spark":
        return {"corpus": small}, first
    return {"corpus": serve, "index": serve_idx}, first


def make_plan(workload: str, seed: int, seconds: int, trace: bool, inputs: dict) -> dict:
    import numpy as np

    import gen

    meta = common.read_json(os.path.join(inputs["corpus"], "meta.json"))
    vocab, df = meta["vocab"], np.array(meta["df"])
    run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
    plan = {
        "workload": workload,
        "seconds": seconds,
        "trace": trace,
        "n_check": N_CHECK,
        "pages": meta["pages"],
        "text_bytes": meta["text_bytes"],
        "result": os.path.join(common.CACHE, "runs", run_id + ".json"),
        "trace_path": os.path.join(common.CACHE, "traces", run_id + ".jsonl"),
        "event_log": os.path.join(common.CACHE, "eventlog", run_id),
        "work_dir": os.path.join(common.CACHE, "work", run_id),
        **inputs,
    }
    if workload == "serve_head":
        plan["queries"] = gen.head_queries(seed, vocab, df, HEAD_STREAM)
        plan["warmup"] = gen.head_queries(seed + 1, vocab, df, 20)
        plan["trace_ops"] = HEAD_TRACE_OPS
    elif workload == "serve_tail":
        plan["queries"] = gen.tail_queries(seed, vocab, df, meta["pages"], TAIL_STREAM)
        # out-of-vocabulary: exercises the load path without touching a
        # term of the stream, so every pass has the same cold loads
        plan["warmup"] = [f"{gen.page_token(10**7 - 1)} zzwarmupzz"]
    else:
        plan["queries"] = gen.spark_queries(seed, vocab, df, SPARK_ROUNDS * gen.TYPO_EVERY)
        plan["round"] = gen.TYPO_EVERY
        plan["warmup"] = gen.spark_queries(seed + 1, vocab, df, gen.TYPO_EVERY)[-1:]
    return plan


def _same(got: list, exp: list) -> bool:
    return len(got) == len(exp) and all(g[0] == e[0] and abs(g[1] - e[1]) <= 1e-9 for g, e in zip(got, exp))


def check(workload: str, plan: dict, res: dict) -> list[str]:
    """Mismatches between the run's answers and the oracle's."""
    import prep

    answers = res["answers"]
    mode = "suggest" if workload == "spark" else "search"
    exp = prep.ensure_expected(plan["corpus"], mode, list(answers), max(30.0, _left(False)))

    def ok(q: str) -> bool:
        if mode == "search":
            return _same(answers[q], exp[q])
        return answers[q]["suggested_query"] == exp[q]["suggested_query"] and _same(
            answers[q]["results"], exp[q]["results"]
        )

    return [f"{q!r}: got {answers[q]} expected {exp[q]}" for q in answers if not ok(q)]


def input_shape(plan: dict, res: dict) -> dict:
    shape = {"pages": plan["pages"], "text_bytes": plan["text_bytes"]}
    shape.update(res.get("shape") or common.index_shape(plan["index"], plan["queries"]))
    return shape


def end_to_end(plan: dict, res: dict) -> dict[str, float]:
    lat = res["lat_s"]
    if plan["workload"] == "spark":
        throughput = plan["pages"] * len(res["build_s"]) / sum(res["build_s"])
        ratio = res["index_ratio"]
        # too few queries for a tail percentile: the figure is the median
        # latency of the misspelled queries, the slow class
        tail = common.median(res["typo_lat_s"] or lat)
    else:
        throughput = len(lat) / sum(lat)
        ratio = common.index_bytes(plan["index"]) / plan["text_bytes"]
        tail = common.percentile(lat, 99)
    return {
        "setup_s": res["setup_s"],
        "p50_ms": 1000.0 * common.median(lat),
        "p99_ms": 1000.0 * tail,
        "throughput_per_s": throughput,
        "index_bytes_per_text_byte": ratio,
        "peak_rss_mb": res["peak_rss_mb"],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve_head", "serve_tail", "spark"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(common.PKG, "__init__.py")):
        _fail(f"program sources not found at {common.PKG}")
    os.makedirs(common.CACHE, exist_ok=True)
    inputs, first = prepare(a.workload)
    plan = make_plan(a.workload, a.seed, a.seconds, bool(a.trace), inputs)
    plan_file = plan["result"][: -len(".json")] + ".plan.json"
    common.write_json(plan_file, plan)
    rc = common.run_group([sys.executable, os.path.join(common.HERE, "worker.py"), plan_file], _left(first) - 15)
    if rc != 0:
        _fail(f"{a.workload} worker exited with code {rc}")
    res = common.read_json(plan["result"])
    mismatches = check(a.workload, plan, res)
    for line in res["failed"] + mismatches:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    n_failed = len(res["failed"]) + len(mismatches)
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if a.trace else "end_to_end"]
    values = res["layers"] if a.trace else end_to_end(plan, res)
    # a layer the workload never calls reads 0
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec}
    shape = input_shape(plan, res)
    info = {"input": shape, "samples": len(res["lat_s"]), "setup_samples_s": res["setup_samples_s"]}
    if "build_s" in res:
        info["build_s"] = res["build_s"]
    print(json.dumps(info))
    print(json.dumps({"correct": n_failed == 0, "attempted": res["attempted"], "failed": n_failed, "metrics": metrics}))
    for f in (plan_file, plan["result"]):
        os.remove(f)


if __name__ == "__main__":
    main()
