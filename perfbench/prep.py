"""Prepared inputs, cached under ``.perfbench/`` in the checkout.

- ``corpus/<gen>-s<seed>-n<pages>/``: the generated pages as parquet plus
  ``meta.json`` (vocabulary, per-word df, text bytes). Keyed by the
  generator's own digest, the corpus seed and the page count.
- ``index/<corpus>-<engine>-p<parts>/``: a compressed index prebuilt by
  the engine. Keyed also by a digest of every file under
  ``search_engine_spark/``, so editing the engine forces a fresh index.
- ``expected/<corpus>-<oracle>-<mode>.json``: oracle answers per query
  string, keyed by the oracle's own source digest.

Run as a script, this module does the Spark and oracle work in a child
process, so none of its memory or JIT state reaches a measured process:

    python3 perfbench/prep.py index <corpus_dir> <out_dir>
    python3 perfbench/prep.py oracle <corpus_dir> <mode> <queries.json> <out.json>
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import gen  # noqa: E402

GEN_DIGEST = common.tree_digest([os.path.join(common.HERE, "gen.py")])


def corpus_dir(corpus_seed: int, n_pages: int) -> str:
    return os.path.join(common.CACHE, "corpus", f"{GEN_DIGEST}-s{corpus_seed}-n{n_pages}")


def ensure_corpus(corpus_seed: int, n_pages: int) -> str:
    d = corpus_dir(corpus_seed, n_pages)
    if os.path.exists(os.path.join(d, "meta.json")):
        return d
    import pyarrow as pa
    import pyarrow.parquet as pq

    urls, texts, ids = gen.corpus(corpus_seed, n_pages)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(pa.table({"doc_id": urls, "text": texts}), os.path.join(tmp, "pages.parquet"))
    common.write_json(
        os.path.join(tmp, "meta.json"),
        {
            "corpus_seed": corpus_seed,
            "pages": n_pages,
            "text_bytes": sum(len(t.encode()) for t in texts),
            "vocab": gen.vocabulary(corpus_seed),
            "df": gen.document_frequencies(ids).tolist(),
        },
    )
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d


def index_dir(corpus: str) -> str:
    parts = 2 * common.cores()
    return os.path.join(
        common.CACHE, "index", f"{os.path.basename(corpus)}-{common.engine_digest()}-p{parts}"
    )


def run_child(args: list[str], timeout: float) -> None:
    """Run this module as a child process in its own process group; on
    timeout or error, kill the whole group and wait for it."""
    rc = common.run_group([sys.executable, os.path.abspath(__file__)] + args, timeout)
    if rc != 0:
        raise RuntimeError(f"prep step {args[0]} failed with exit code {rc}")


def ensure_index(corpus: str, timeout: float) -> str:
    d = index_dir(corpus)
    if not os.path.exists(os.path.join(d, "corpus.json")):
        run_child(["index", corpus, d], timeout)
    return d


def oracle_pickle(corpus: str) -> str:
    return os.path.join(corpus, f"oracle-{common.oracle_digest()}.pkl")


def expected_path(corpus: str, mode: str) -> str:
    return os.path.join(
        common.CACHE, "expected", f"{os.path.basename(corpus)}-{common.oracle_digest()}-{mode}.json"
    )


def ensure_expected(corpus: str, mode: str, queries: list[str], timeout: float) -> dict:
    """Oracle answers for ``queries``, computing only the ones not cached.
    Also pickles the corpus's oracle index if it is not cached yet."""
    path = expected_path(corpus, mode)
    have = common.read_json(path) if os.path.exists(path) else {}
    missing = sorted(set(queries) - set(have))
    if missing or not os.path.exists(oracle_pickle(corpus)):
        qfile = os.path.join(common.CACHE, "tmp", f"oracle-q-{os.getpid()}.json")
        ofile = os.path.join(common.CACHE, "tmp", f"oracle-a-{os.getpid()}.json")
        common.write_json(qfile, missing)
        run_child(["oracle", corpus, mode, qfile, ofile], timeout)
        have.update(common.read_json(ofile))
        for f in (qfile, ofile):
            os.remove(f)
        common.write_json(path, have)
    return {q: have[q] for q in queries}


# ------------------------------------------------------------ child steps


def _build_index(corpus: str, out: str) -> None:
    from search_engine_spark.index.build import build_compressed_index

    spark = common.spark_session()
    try:
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        df = spark.read.parquet(os.path.join(corpus, "pages.parquet"))
        build_compressed_index(df, tmp, common.engine_config())
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    finally:
        common.stop_spark(spark)


def _oracle_index(corpus: str):
    """The pure-Python oracle index of a corpus, pickled next to it."""
    import pickle

    import pyarrow.parquet as pq

    from search_engine_spark.config import load_stopwords
    from search_engine_spark.oracle.pyref import build_oracle_index

    path = oracle_pickle(corpus)
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    t = pq.read_table(os.path.join(corpus, "pages.parquet"))
    docs = list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
    idx = build_oracle_index(docs, load_stopwords())
    with open(path + ".tmp", "wb") as f:
        pickle.dump(idx, f, protocol=pickle.HIGHEST_PROTOCOL)
    os.replace(path + ".tmp", path)
    return idx


def _answer(index, mode: str, q: str):
    from search_engine_spark.oracle.pyref import oracle_search, oracle_search_with_suggestions

    if mode == "search":
        return q, [[u, s] for u, s in oracle_search(index, q, use_fuzzy=False)]
    r = oracle_search_with_suggestions(index, q)
    return q, {"suggested_query": r["suggested_query"], "results": [[u, s] for u, s in r["results"]]}


def _oracle_answers(corpus: str, mode: str, qfile: str, ofile: str) -> None:
    index = _oracle_index(corpus)
    common.write_json(ofile, dict(_answer(index, mode, q) for q in common.read_json(qfile)))


if __name__ == "__main__":
    cmd = sys.argv[1]
    if cmd == "index":
        _build_index(sys.argv[2], sys.argv[3])
    elif cmd == "oracle":
        _oracle_answers(*sys.argv[2:6])
    else:
        raise SystemExit(f"unknown prep step {cmd!r}")
