"""One measured run of one workload, in a fresh process.

    python3 perfbench/worker.py <plan.json>

The plan (written by run.py) names the workload, its prepared inputs and
where to write the result. Set-up time counts from this process's start.
With ``trace`` set, the run first times a fixed slice of ops untraced,
then the same ops with every wrapper installed, and reports per-layer
numbers from the traced slice plus the tracing overhead.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

T_START = common.process_start_time()
perf = time.perf_counter


def _now_since_start() -> float:
    return time.time() - T_START


ATTEMPTED = [0]
# a serve run measures at least this many ops, so >= 10 lie beyond its p99
MIN_OPS = 1000
# a serve run sets up this many times, at points spread over the run
SETUPS = 3


def _serve_imports_s() -> float:
    """Seconds from process start to the serve workloads' imports done."""
    from search_engine_spark.serving import WarmIndexReader  # noqa: F401

    return _now_since_start()


class _SetUps:
    """Set-up samples of a serve run: interpreter start plus imports, and
    reader load plus warm-up. The first start-up sample is this process's
    own; the next ``SETUPS - 1`` time the same start-up in a fresh
    process. Samples taken back to back share one phase of the host's
    speed (a single start-up sample swung by a quarter of a second between
    runs), so the workloads take them at points spread over the run."""

    def __init__(self, plan: dict, preload: bool):
        self.plan, self.preload = plan, preload
        self.imports = [_serve_imports_s()]
        self.setups: list[float] = []
        self.loads: list[float] = []

    def reader(self):
        """A freshly loaded and warmed reader. The caller drops its last
        reader first, so two preloaded indexes never share the heap."""
        import gc

        from search_engine_spark.serving import WarmIndexReader

        if len(self.imports) <= len(self.setups) and len(self.imports) < SETUPS:
            r = subprocess.run([sys.executable, __file__, "--imports"], stdout=subprocess.PIPE, text=True, check=True)
            self.imports.append(float(r.stdout.split()[-1]))
        gc.collect()
        t0 = perf()
        reader = WarmIndexReader(self.plan["index"], preload=self.preload)
        self.loads.append(perf() - t0)
        for q in self.plan["warmup"]:
            reader.search(q)
        self.setups.append(perf() - t0)
        return reader

    def result(self) -> dict:
        return {
            "setup_s": common.median(self.imports) + common.median(self.setups),
            "setup_samples_s": self.imports + self.setups,
        }


def _run_ops(fn, items, lat, answers=None, n_check=0, failed=None, rotor=None):
    """Closed loop: one op after another, each timed from call to return.
    A failed op is recorded in ``failed``, not raised, and not timed."""
    for i, q in enumerate(items):
        if rotor:
            rotor.tick()
        ATTEMPTED[0] += 1
        t0 = perf()
        try:
            r = fn(q)
        except Exception as e:
            failed.append(f"{q!r}: {type(e).__name__}: {e}")
            continue
        lat.append(perf() - t0)
        if answers is not None and i < n_check:
            answers.setdefault(q, r)


# ------------------------------------------------------------------ serve


def _reader_search(reader):
    def op(q):
        return [[d, s] for _, d, s in reader.search(q)]

    return op


def _postings_meta(index_dir: str) -> dict[str, tuple[int, int]]:
    """term -> (blocks, postings) from the index's own block metadata."""
    import pyarrow.parquet as papq

    t = papq.read_table(os.path.join(index_dir, "postings"), columns=["term", "n"])
    g = t.group_by("term").aggregate([("n", "count"), ("n", "sum")])
    return dict(
        zip(g.column("term").to_pylist(), zip(g.column("n_count").to_pylist(), g.column("n_sum").to_pylist()))
    )


def _serve_layers(tracer, queries, index_dir, loads, lat, tlat) -> dict:
    """Per-query layer numbers of a traced pass over ``queries``."""
    from search_engine_spark.functions.tokenize import query_tokens_py

    meta = _postings_meta(index_dir)
    blocks = postings = 0
    for q in queries:
        for t in set(query_tokens_py(q)):
            b, p = meta.get(t, (0, 0))
            blocks += b
            postings += p
    n, c = len(queries), tracer.counters
    load = tracer.total("serving.load")
    cold = sum(1 for s in tracer.spans if s["name"] == "serving.load")
    return {
        "serving.load_s": common.median(loads),
        "serving.cold_loads": float(cold),
        "serving.load_ms": 1000.0 * load / max(1, cold),
        "serving.score_select_ms": 1000.0 * (tracer.total("search_topk") - c["decode.s"] - load) / n,
        "index.codec.decode_calls": c["decode.calls"] / n,
        "index.codec.decode_bytes": c["decode.bytes"] / n,
        "index.codec.decode_ms": 1000.0 * c["decode.s"] / n,
        "index.codec.blocks_per_query": blocks / n,
        "index.codec.postings_per_query": postings / n,
        "trace.overhead_pct": 100.0 * (sum(tlat) / sum(lat) - 1.0),
    }


def _traced_pass(reader, queries, failed, rotor):
    """One pass over ``queries`` with the serve wrappers installed."""
    from tracing import Tracer

    tracer = Tracer()
    _install_serve_tracer(tracer, reader)
    op = _reader_search(reader)
    tlat: list[float] = []
    for i, q in enumerate(queries):
        tracer.op = i
        with tracer.span("query"):
            _run_ops(op, [q], tlat, failed=failed, rotor=rotor)
    return tracer, tlat


def _install_serve_tracer(tracer, reader):
    import search_engine_spark.serving.warm_reader as wr

    wr.varbyte_decode = tracer.count(wr.varbyte_decode, "decode", lambda buf: len(buf))
    reader.search_topk = tracer.wrap(reader.search_topk, "search_topk")

    class _Dataset:
        """The reader's pyarrow dataset with ``to_table`` traced."""

        def __init__(self, ds):
            self._ds = ds
            self.to_table = tracer.wrap(ds.to_table, "serving.load")

        def __getattr__(self, name):
            return getattr(self._ds, name)

    reader._dataset = _Dataset(reader._dataset)


def serve_head(plan: dict) -> dict:
    su = _SetUps(plan, preload=True)
    queries = plan["queries"]
    lat, answers, failed = [], {}, []
    rotor = common.CoreRotor()
    if not plan["trace"]:
        # SETUPS stretches of equal length, each from a fresh reader
        i = 0
        for s in range(SETUPS):
            reader = op = None  # free the last index before loading the next
            reader = su.reader()
            op = _reader_search(reader)
            clock = common.Clock(plan["seconds"] / SETUPS)
            while clock.left() or (s == SETUPS - 1 and i < MIN_OPS):
                _run_ops(op, [queries[i % len(queries)]], lat, answers, plan["n_check"] - i, failed, rotor)
                i += 1
        res = {"lat_s": lat}
    else:
        for _ in range(SETUPS):
            reader = None
            reader = su.reader()
        m = plan["trace_ops"]
        _run_ops(_reader_search(reader), queries[:m], lat, answers, plan["n_check"], failed, rotor)
        tracer, tlat = _traced_pass(reader, queries[:m], failed, rotor)
        tracer.write(plan["trace_path"])
        res = {"lat_s": lat, "layers": _serve_layers(tracer, queries[:m], plan["index"], su.loads, lat, tlat)}
    res.update(su.result(), answers=answers, failed=failed, peak_rss_mb=common.tree_peak_rss_mb())
    return res


def serve_tail(plan: dict) -> dict:
    su = _SetUps(plan, preload=False)
    queries = plan["queries"]
    lat, answers, failed = [], {}, []
    tracer, rotor = None, common.CoreRotor()
    # whole passes over the stream, each from a fresh lazy reader, so every
    # pass has the same cold loads, until the passes have spent ``seconds``
    # on queries; the traced run makes one untraced and one traced pass
    busy, n_pass = 0.0, 0
    while busy < plan["seconds"] if not plan["trace"] else n_pass < 2:
        reader = su.reader()
        t0 = perf()
        if n_pass == 1 and plan["trace"]:
            tracer, tlat = _traced_pass(reader, queries, failed, rotor)
        else:
            check = answers if n_pass == 0 else None
            _run_ops(_reader_search(reader), queries, lat, check, plan["n_check"], failed, rotor)
        busy += perf() - t0
        n_pass += 1
    res = {"lat_s": lat}
    if tracer is not None:
        tracer.write(plan["trace_path"])
        res["layers"] = _serve_layers(tracer, queries, plan["index"], su.loads, lat, tlat)
    res.update(su.result(), answers=answers, failed=failed, peak_rss_mb=common.tree_peak_rss_mb())
    return res


# ------------------------------------------------------------------ spark


_STAGES = ("staging", "postings", "doc_dim", "term_stats")
BUILDS = 2


def spark(plan: dict) -> dict:
    """The reference lifecycle through Spark: index the corpus, then answer
    search-with-suggestions queries from the index just built."""
    import shutil

    work = plan["work_dir"]
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    session = common.spark_session(plan["event_log"] if plan["trace"] else None)
    sc = session.sparkContext
    import search_engine_spark.engine as engine_mod
    from search_engine_spark.engine import SearchEngine
    from search_engine_spark.index.build import build_compressed_index
    from search_engine_spark.index.query import CompressedIndex
    from search_engine_spark.operators.corpus_stats import build_bm25_index

    cfg = common.engine_config()
    df = session.read.parquet(os.path.join(plan["corpus"], "pages.parquet"))
    # set-up: a build of a slice (the first build in a JVM runs cold), the
    # logical index, and one misspelled query against the slice's index
    warm = os.path.join(work, "warmup")
    build_compressed_index(df.limit(common.WARMUP_PAGES), warm, cfg)
    logical = build_bm25_index(df, cfg, doc_col="doc_id", text_col="text")
    eng = SearchEngine(index=logical, compressed=CompressedIndex(session, warm, cfg))

    def op(q):
        r = eng.search_with_suggestions(q)
        rows = r["results"].collect()
        return {"suggested_query": r["suggested_query"], "results": [[x["doc_id"], x["score"]] for x in rows]}

    for q in plan["warmup"]:
        op(q)
    res = {"setup_s": _now_since_start()}
    res["setup_samples_s"] = [res["setup_s"]]

    build_s, manifests, built, sizes, failed = [], [], [], [], []

    def build(i: int, group: str | None = None) -> None:
        out = os.path.join(work, f"b{i}")
        built.append(out)
        sc.setJobGroup(group or "perfbench-other", "build")
        ATTEMPTED[0] += 1
        t0 = perf()
        manifests.append(build_compressed_index(df, out, cfg))
        build_s.append(perf() - t0)
        sizes.append(common.index_bytes(out))

    queries, k = plan["queries"], plan["round"]
    lat, typo_lat, answers = [], [], {}

    def fresh_index():
        # a new CompressedIndex per measured stretch: its idf memo starts
        # empty, so repeating a round repeats its Spark jobs
        eng.compressed = CompressedIndex(session, built[-1], cfg)

    def run_queries(qs: list[str]) -> None:
        # the stream is whole rounds of the typo period: every run has the
        # same mix, and the misspelled queries are timed apart
        for j, q in enumerate(qs):
            _run_ops(op, [q], typo_lat if j % k == k - 1 else lat, answers, 1, failed)

    if not plan["trace"]:
        for i in range(BUILDS):
            build(i)
        fresh_index()
        run_queries(queries)
    else:
        from tracing import Tracer, job_counts

        # builds: untraced, traced, untraced; queries: the first round
        # untraced, then the same round traced
        build(0)
        build(1, "perfbench-build")
        build(2)
        traced_build_s = build_s.pop(1)
        jobs, stages, tasks = job_counts(sc, "perfbench-build")
        m = manifests[1]["stages"]
        layers = {f"index.build.{s}_s": m[s]["wall_sec"] for s in _STAGES}
        layers["index.build.unstaged_s"] = traced_build_s - sum(m[s]["wall_sec"] for s in _STAGES + ("corpus",))
        layers.update(
            {
                "index.build.spark_jobs": float(jobs),
                "index.build.spark_stages": float(stages),
                "index.build.spark_tasks": float(tasks),
                "index.build.postings": float(m["postings"]["postings"]),
                "index.build.blocks": float(m["postings"]["blocks"]),
                "index.build.index_bytes": float(sizes[1]),
            }
        )
        fresh_index()
        sc.setJobGroup("perfbench-other", "query")
        run_queries(queries[:k])
        fresh_index()
        tracer = Tracer()
        engine_mod.expand_query_tokens = tracer.wrap(engine_mod.expand_query_tokens, "expand")
        topk = eng.compressed.search_topk

        def traced_topk(*a, **kw):
            sc.setJobGroup(f"q{tracer.op}-topk", "search_topk")
            try:
                with tracer.span("search_topk"):
                    return topk(*a, **kw)
            finally:
                sc.setJobGroup(f"q{tracer.op}", "query")

        eng.compressed.search_topk = traced_topk
        tlat: list[float] = []
        counts = [0, 0, 0]
        for i, q in enumerate(queries[:k]):
            tracer.op = i
            sc.setJobGroup(f"q{i}", "query")
            with tracer.span("query"):
                _run_ops(op, [q], tlat, answers, 1, failed)
            for g in (f"q{i}", f"q{i}-topk"):
                for j, c in enumerate(job_counts(sc, g)):
                    counts[j] += c
        total = tracer.total("query")
        layers.update(
            {
                "operators.fuzzy_expand.expand_ms": 1000.0 * tracer.total("expand") / k,
                "index.query.search_topk_ms": 1000.0 * tracer.total("search_topk") / k,
                "engine.suggest_ms": 1000.0 * (total - tracer.total("expand") - tracer.total("search_topk")) / k,
                "engine.spark_jobs": counts[0] / k,
                "engine.spark_stages": counts[1] / k,
                "engine.spark_tasks": counts[2] / k,
                "trace.overhead_pct": 100.0
                * ((traced_build_s + sum(tlat)) / (common.median(build_s) + sum(lat + typo_lat)) - 1.0),
            }
        )
        tracer.write(plan["trace_path"])
        res["layers"] = layers
    res.update(
        lat_s=lat + typo_lat,
        typo_lat_s=typo_lat,
        build_s=build_s,
        answers=answers,
        failed=failed,
        index_ratio=common.median(sizes) / plan["text_bytes"],
        shape=common.index_shape(built[-1], queries),
        peak_rss_mb=common.tree_peak_rss_mb(),
    )
    app_id = sc.applicationId
    common.stop_spark(session)
    if plan["trace"]:
        from tracing import event_log_metrics

        ev = event_log_metrics(plan["event_log"], app_id)
        shutil.rmtree(plan["event_log"], ignore_errors=True)
        for key in ("shuffle_write_bytes", "spill_bytes", "gc_s", "executor_run_s"):
            res["layers"][f"index.build.{key}"] = float(ev.get("perfbench-build", {}).get(key, 0.0))
        topk_ev = [v for g, v in ev.items() if g.endswith("-topk")]
        res["layers"]["index.query.python_ms"] = 1000.0 * sum(v.get("python_s", 0.0) for v in topk_ev) / k
        res["layers"]["index.query.task_ms"] = 1000.0 * sum(v.get("executor_run_s", 0.0) for v in topk_ev) / k
    shutil.rmtree(work, ignore_errors=True)
    return res


WORKLOADS = {"serve_head": serve_head, "serve_tail": serve_tail, "spark": spark}


if __name__ == "__main__":
    if sys.argv[1] == "--imports":
        print(_serve_imports_s())
        sys.exit(0)
    plan = common.read_json(sys.argv[1])
    result = WORKLOADS[plan["workload"]](plan)
    result["attempted"] = ATTEMPTED[0]
    common.write_json(plan["result"], result)
