"""The benchmark's workloads.  Each drives the engine only through public
functions of ``log_vector_spark`` and ``tools/``, from one client thread.

A workload is ``setup(b)``, which builds its inputs and stores and returns
a state; ``op(b, state, i)``, the i-th timed user operation, which returns
the walls in seconds of its calls by kind (KINDS: one store write, the
reads served from what was written, one batch maintenance job);
``finish(b, state)``, which checks outputs; and ``summary(state,
walls)``, the workload's figures under the names they are discussed by,
from the same walls the metrics use.  Under tracing each call in
``op`` is replayed as a prefix chain (see tracing.py); untraced only the
real call runs.  Output checks run outside the timed calls and count into
``b.failed``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import checks
import inputs
import tracing
from log_vector_spark.operators.embed import DeterministicEmbedder

CHUNK_SIZE = 2000  # build_index's chunk size, the reference's default
REINDEX_CHUNK_SIZE = 400  # index_incremental's default
TOP_K = 5  # make_query_fn's top-k
IVF_K, IVF_NPROBE = 10, 4
IVF_QUERIES_PER_WRITE = 4
QUESTIONS_PER_OP = 4
DOC_SCHEMA = "doc_id long, source string, text string"
CURATE_SCHEMA = "doc_id long, text string"
KINDS = ("write", "read", "batch")


class CountingEmbedder(DeterministicEmbedder):
    """The deterministic embedder, counting embedded texts in a Spark
    accumulator (executors add, the driver reads)."""

    def __init__(self, acc):
        super().__init__()
        self.acc = acc

    def embed_batch(self, texts):
        self.acc.add(len(texts))
        return super().embed_batch(texts)


class Bench:
    """State of one run: session, tracer, timings, failures, extra metrics."""

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}  # layer-specific traced values
        self.per_op: dict[str, float] = {}  # layer-specific traced sums, per op

    def check(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.failures.extend(problems)

    def add(self, name: str, value: float) -> None:
        self.per_op[name] = self.per_op.get(name, 0.0) + value


def noop(df) -> None:
    """Materialise every column of ``df`` without keeping the output."""
    df.write.format("noop").mode("overwrite").save()


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[-1] if len(xs) > 1 else xs[0]


# --------------------------------------------------------- index_ask_curate ----


def index_setup(b: Bench) -> dict:
    from ask import make_query_fn
    from index_cli import build_index
    from log_vector_spark.operators.rag import EchoGenerator

    corpus = inputs.write_log_corpus(os.path.join(b.work, "corpus"), b.seed)
    ref = []  # (chunk_id, source, chunk_index, document) of a fresh index
    for path, text in sorted(inputs.read_text_files(corpus).items()):
        for idx, doc in checks.expected_chunks(text, CHUNK_SIZE):
            ref.append((f"{path}:file:{path}:{idx}", path, idx, doc))
    qs = inputs.questions(b.seed, [r[3] for r in ref], 400)
    # warm the JIT and the Python workers on every path with a small
    # corpus and table: the first build or curate pass in a fresh JVM runs
    # about twice as long as the steady state.  The curate warm-up is
    # mostly driver-side code generation and runs beside the build's
    # Python-worker start, which takes about 7 s off setup_s on 4 cores.
    small = inputs.write_log_corpus(os.path.join(b.work, "warm_corpus"), b.seed,
                                    n_files=4, total_lines=200, n_latin1=1, n_binary=1)
    warm = os.path.join(b.work, "warm")
    small_table = b.spark.createDataFrame(inputs.curate_table(b.seed, n_base=12)["docs"],
                                          CURATE_SCHEMA)
    with ThreadPoolExecutor(1) as pool:
        curate_warm = pool.submit(_curate_pass, small_table)
        build_index(b.spark, small["root"], warm, chunk_size=CHUNK_SIZE)
        query = make_query_fn(b.spark, warm, EchoGenerator())
        for q in qs[-2:]:
            query(q)
        curate_warm.result()
    shutil.rmtree(warm)
    table = inputs.curate_table(b.seed)
    return {"corpus": corpus, "ref": ref, "questions": qs[:-2], "q": 0,
            "acc": b.sc.accumulator(0), "embedder": DeterministicEmbedder(),
            "stats": [], "answers": [], "curated": [], "table": table,
            "curate_df": b.spark.createDataFrame(table["docs"], CURATE_SCHEMA)}


def _build_steps(b: Bench, st: dict, i: int, store: str) -> list:
    """build_index as a prefix chain: scan, chunk, embed, write, full call."""
    from pyspark.sql import Observation, functions as F

    from index_cli import build_index
    from log_vector_spark.operators.chunk import chunk_documents
    from log_vector_spark.sources.corpus import read_corpus_text
    from log_vector_spark.sources.store import write_chunks

    root = st["corpus"]["root"]
    embedder = CountingEmbedder(st["acc"])
    obs = Observation(f"corpus{i}")

    def corpus_df():
        return read_corpus_text(b.spark, root)

    def chunks_df():
        ok = corpus_df().filter(~F.col("error")).select(
            F.col("path").alias("doc_id"), F.col("source"), F.col("text"))
        return chunk_documents(ok, chunk_size=CHUNK_SIZE)

    def embedded_df():
        return chunks_df().withColumn("embedding", embedder.embed_col(F.col("document")))

    def corpus_step():
        noop(corpus_df().observe(
            obs, F.count(F.lit(1)).alias("files"), F.sum("length").alias("bytes"),
            F.sum(F.col("error").cast("int")).alias("errored")))
        seen = obs.get
        b.add("corpus.files", seen["files"])
        b.add("corpus.bytes", seen["bytes"])
        b.add("corpus.files_errored", seen["errored"])

    def embed_step():
        before = st["acc"].value
        noop(embedded_df())
        b.add("embed.texts", st["acc"].value - before)

    return [
        ("sources.corpus", corpus_step),
        ("operators.chunk", lambda: noop(chunks_df())),
        ("operators.embed", embed_step),
        ("sources.store", lambda: write_chunks(
            embedded_df(), store + "-prefix", mode="overwrite")),
        ("tools.index_cli", lambda: build_index(b.spark, root, store, chunk_size=CHUNK_SIZE)),
    ]


def _ask_steps(b: Bench, st: dict, chunks, query, question: str) -> list:
    """One make_query_fn question as a prefix chain: embed, store scan,
    top-k + join, full call (context assembly and answer).  ``chunks`` is
    read once per store, as make_query_fn does, so no step re-lists it."""
    from pyspark.sql import functions as F

    from log_vector_spark.operators.search import knn_batch_topk

    embedder = st["embedder"]

    def read_step():
        embedder.embed_batch([question])
        noop(chunks)

    def search_step():
        qvec = embedder.embed_batch([question])[0]
        qdf = b.spark.createDataFrame([(0, qvec)], "query_id int, query_vec array<double>")
        # the hits make_query_fn hands to assemble_context, under the same
        # global-aggregate plan shape
        knn_batch_topk(chunks, qdf, k=TOP_K, vec_id="chunk_id", vec_col="embedding").join(
            chunks, "chunk_id").agg(F.max(F.length("document"))).first()

    return [
        ("operators.embed", lambda: embedder.embed_batch([question])),
        ("sources.store", read_step),
        ("operators.search", search_step),
        ("operators.rag", lambda: query(question)),
    ]


def _dedup(docs) -> dict:
    from log_vector_spark.operators.dedup import (
        connected_components, exact_dedup, minhash_band_pairs)

    return {
        "exact": [(r.keep_doc_id, r.n_dups) for r in exact_dedup(docs).collect()],
        "labels": {r.doc_id: r.cluster_id for r in connected_components(
            minhash_band_pairs(docs), docs.select("doc_id")).collect()},
    }


def _curate_pass(docs) -> dict:
    """The dedup and curation pass, every output collected: exact-duplicate
    survivors, near-duplicate components over the MinHash candidate pairs,
    cross-document duplicate spans, Gopher rules and text quality."""
    from log_vector_spark.operators.curation import gopher_rules, substring_dup_spans
    from log_vector_spark.operators.textops import text_quality

    out = _dedup(docs)
    out["dup_spans"] = {r.doc_id: r.n_dup_spans for r in substring_dup_spans(docs).collect()}
    out["gopher_pass"] = {r.doc_id: r.gopher_pass for r in gopher_rules(docs).collect()}
    out["n_tokens"] = {r.doc_id: r.n_tokens for r in text_quality(docs).collect()}
    return out


def index_op(b: Bench, st: dict, i: int) -> dict[str, list[float]]:
    """Index the log directory into a fresh store, ask it questions through
    a new make_query_fn (the paper's index.py, then ask.py), then run the
    dedup and curation pass over the document table."""
    from ask import make_query_fn
    from log_vector_spark.operators.rag import EchoGenerator
    from log_vector_spark.sources.store import read_chunks

    store = os.path.join(b.work, f"store{i}")
    started = time.time()
    stats, build_s = b.tracer.chain(i, _build_steps(b, st, i, store), label="build_index")
    st["stats"].append(stats)
    if b.tracer.enabled:
        b.add("chunk.chunks_out", stats["chunks_written"])
        n, size = tracing.files_since(store, started)
        b.add("store.files_written", n)
        b.add("store.bytes_written", size)
    query = make_query_fn(b.spark, store, EchoGenerator())
    chunks = read_chunks(b.spark, store) if b.tracer.enabled else None  # prefix steps only
    reads = []
    for _ in range(QUESTIONS_PER_OP):
        question = st["questions"][st["q"] % len(st["questions"])]
        st["q"] += 1
        ans, t = b.tracer.chain(i, _ask_steps(b, st, chunks, query, question), label="ask")
        st["answers"].append((question, ans))
        reads.append(t)
    for d in (store, store + "-prefix"):
        shutil.rmtree(d, ignore_errors=True)
    docs = st["curate_df"]
    curated, curate_s = b.tracer.chain(i, [
        ("operators.dedup", lambda: _dedup(docs)),
        ("operators.curation", lambda: _curate_pass(docs)),
    ], label="curate")
    st["curated"].append(curated)
    return {"write": [build_s], "read": reads, "batch": [curate_s]}


def index_finish(b: Bench, st: dict) -> None:
    """Check every build and answer (after the timed window: the NumPy
    reference is the benchmark's own work)."""
    expected = len(st["ref"])
    for stats in st["stats"]:
        b.check(checks.check_index(stats, expected, len(st["corpus"]["binaries"])))
    ref = st["ref"]
    mat = np.asarray(st["embedder"].embed_batch([r[3] for r in ref]))
    ids = [r[0] for r in ref]
    by_id = {r[0]: (r[1], r[2]) for r in ref}
    for question, ans in st["answers"]:
        qvec = st["embedder"].embed_batch([question])[0]
        best = checks.topk(ids, checks.fold_cosine(mat, qvec), TOP_K)
        b.check(checks.check_answer(ans, [by_id[c] for c in best]))
    _curate_finish(b, st)


def _curate_finish(b: Bench, st: dict) -> None:
    """Check every curate pass against the planted table; the candidate
    pairs are the engine's own, read once after the timed window."""
    from log_vector_spark.operators.dedup import minhash_band_pairs

    table = st["table"]
    pairs = [(r.id_a, r.id_b) for r in minhash_band_pairs(st["curate_df"]).collect()]
    for out in st["curated"]:
        b.check(checks.check_exact_dedup(out["exact"], table["docs"]))
        b.check(checks.check_components(out["labels"], pairs, [d[0] for d in table["docs"]]))
        b.check(checks.check_curation(out, table))
    planted = checks.planted_pairs(table["families"])
    spans = st["curated"][-1]["dup_spans"]
    b.layer.update({
        "dedup.candidate_pairs": len(pairs),
        "dedup.true_pair_ratio": len(planted & set(pairs)) / max(1, len(pairs)),
        "curation.dup_span_docs": sum(n > 0 for n in spans.values()),
    })


def index_summary(st: dict, walls: dict[str, list[float]]) -> dict:
    curate_bytes = sum(len(d[1].encode()) for d in st["table"]["docs"])
    return {
        "index_mb_per_s": st["corpus"]["bytes"] / 1e6 / statistics.median(walls["write"]),
        "ask_p50_ms": 1e3 * statistics.median(walls["read"]),
        "ask_p90_ms": 1e3 * p90(walls["read"]),
        "ask_samples": len(walls["read"]),
        "curate_mb_per_s": curate_bytes / 1e6 / statistics.median(walls["batch"]),
    }


# ------------------------------------------------------------ reindex_serve ----


def _read_snapshot(root: str):
    import pyarrow.parquet as pq

    from log_vector_spark.sources.index_store import resolve_ivf_snapshot

    snap = resolve_ivf_snapshot(root)
    cents = pq.read_table(snap["centroids"]).to_pydict()
    order = np.argsort(cents["list_id"], kind="stable")
    ids = [cents["list_id"][j] for j in order]
    mat = np.asarray([cents["centroid"][j] for j in order], dtype=np.float32)
    return snap, ids, mat


def reindex_setup(b: Bench) -> dict:
    from log_vector_spark.sources.index_store import ensure_ivf_store, knn_ivf_stored
    from log_vector_spark.sources.store import index_incremental

    sf_dir = os.path.join(b.work, "vectors")
    emb = inputs.write_vectors_parquet(sf_dir, b.seed)
    t = time.perf_counter()
    root = ensure_ivf_store(b.spark, sf_dir)
    b.layer["ivf.build_s"] = time.perf_counter() - t
    queries = inputs.ivf_queries(b.seed, emb, 400)
    acc = b.sc.accumulator(0)
    docs = inputs.doc_table(b.seed)
    incr = os.path.join(b.work, "incr")
    # the first stored-IVF queries in a fresh JVM run up to 1.5x the steady
    # state: warm that path while the document table is indexed on a
    # second thread
    with ThreadPoolExecutor(1) as pool:
        indexed = pool.submit(index_incremental, b.spark.createDataFrame(docs, DOC_SCHEMA),
                              incr, CountingEmbedder(acc), chunk_size=REINDEX_CHUNK_SIZE)
        for q in queries[-IVF_QUERIES_PER_WRITE:]:
            knn_ivf_stored(b.spark, sf_dir, q, k=IVF_K, nprobe=IVF_NPROBE).collect()
        indexed.result()
    return {"docs": docs, "incr": incr, "acc": acc, "sf_dir": sf_dir, "root": root,
            "emb": emb, "queries": queries[:-IVF_QUERIES_PER_WRITE], "q": 0, "recall": []}


def _retrain_steps(b: Bench, root: str):
    from pyspark.sql import functions as F

    from log_vector_spark.operators.search import ivf_assign, make_centroids_kmeans
    from log_vector_spark.sources.index_store import resolve_ivf_snapshot, retrain_ivf_store

    def base():
        return b.spark.read.parquet(resolve_ivf_snapshot(root)["vectors"]).select(
            "vec_id", "embedding", "label")

    def centroids():
        return make_centroids_kmeans(base(), iters=2).select(
            "list_id", F.transform("centroid", lambda x: x.cast("float")).alias("centroid"))

    return [
        ("operators.search", centroids),
        ("functions.argmin", lambda: noop(ivf_assign(base(), centroids()))),
        ("sources.index_store", lambda: retrain_ivf_store(b.spark, root)),
    ]


def _ivf_queries(b: Bench, st: dict, i: int) -> list[float]:
    """Serve stored-IVF queries; check each against the NumPy IVF of the
    live snapshot and record its recall against the exact top-k."""
    from log_vector_spark.sources.index_store import knn_ivf_stored, probe_list_ids

    reads = []
    for _ in range(IVF_QUERIES_PER_WRITE):
        q = st["queries"][st["q"] % len(st["queries"])]
        st["q"] += 1
        lists = []
        rows, t_q = b.tracer.chain(i, [
            ("sources.index_store", lambda q=q: lists.extend(
                probe_list_ids(b.spark, st["root"], q, IVF_NPROBE))),
            ("sources.index_store", lambda q=q: knn_ivf_stored(
                b.spark, st["sf_dir"], q, k=IVF_K, nprobe=IVF_NPROBE).collect()),
        ], label="ivf_query")
        reads.append(t_q)
        if b.tracer.enabled:
            b.layer["ivf.lists_probed"] = len(lists)
        snap, cids, cmat = _read_snapshot(st["root"])
        if st.get("assign_for") != snap["vectors"]:  # once per store version
            st["assign"] = checks.ivf_assign(cids, cmat, st["emb"])
            st["assign_for"] = snap["vectors"]
        vec_ids = np.arange(len(st["emb"]), dtype=np.int64)
        got = [r.vec_id for r in rows]
        b.check(checks.check_ivf(got, checks.ivf_reference(
            cids, cmat, st["assign"], vec_ids, st["emb"], q, IVF_K, IVF_NPROBE)))
        exact = checks.topk(list(vec_ids), checks.fold_cosine(st["emb"], q), IVF_K)
        st["recall"].append(checks.recall(got, exact))
    return reads


def _reindex_write(b: Bench, st: dict, i: int) -> float:
    """index_incremental over the next seeded edit batch, then check the
    store against a fresh index and the embedder's work against the stale
    documents."""
    from log_vector_spark.sources.store import index_incremental, read_chunks_incremental

    old = st["docs"]
    new = inputs.edit_batch(b.seed, i + 1, old)
    df = b.spark.createDataFrame(new, DOC_SCHEMA)
    embedder = CountingEmbedder(st["acc"])
    before = st["acc"].value
    started = time.time()
    stats, wall = b.tracer.chain(i, [
        ("sources.store", lambda: index_incremental(
            df, st["incr"], embedder, chunk_size=REINDEX_CHUNK_SIZE)),
    ], label="reindex")
    embedded = st["acc"].value - before
    stale = set(new) - set(old)
    stale_chunks = sum(len(checks.expected_chunks(d[2], REINDEX_CHUNK_SIZE)) for d in stale)
    stored = {(r.chunk_id, r.document) for r in read_chunks_incremental(
        b.spark, st["incr"]).select("chunk_id", "document").collect()}
    b.check(checks.check_reindex(
        stored, checks.expected_store(new, REINDEX_CHUNK_SIZE), embedded, stale_chunks))
    if b.tracer.enabled:
        fresh, carried = stats["n_fresh_chunks"], stats["n_carried_chunks"]
        b.add("store.fresh_ratio", fresh / max(1, fresh + carried))
        b.add("embed.texts", embedded)
        n, size = tracing.files_since(st["incr"], started)
        b.add("store.files_written", n)
        b.add("store.bytes_written", size)
    st["docs"] = new
    return wall


def _retrain_write(b: Bench, st: dict, i: int) -> float:
    _, wall = b.tracer.chain(i, _retrain_steps(b, st["root"]), label="retrain")
    if b.tracer.enabled:
        from log_vector_spark.sources.index_store import resolve_ivf_snapshot

        b.layer["ivf.files_in_snapshot"] = tracing.count_files(
            resolve_ivf_snapshot(st["root"])["vectors"])
    return wall


def reindex_op(b: Bench, st: dict, i: int) -> dict[str, list[float]]:
    """One maintenance cycle: re-index an edit batch (the write), serve
    stored-IVF queries, retrain the IVF quantizer (the batch job), serve
    queries from the new version."""
    write = _reindex_write(b, st, i)
    reads = _ivf_queries(b, st, i)
    batch = _retrain_write(b, st, i)
    return {"write": [write], "read": reads + _ivf_queries(b, st, i), "batch": [batch]}


def reindex_finish(b: Bench, st: dict) -> None:
    """Every output is checked as it is served."""


def reindex_summary(st: dict, walls: dict[str, list[float]]) -> dict:
    return {
        "reindex_s": statistics.median(walls["write"]),
        "retrain_s": statistics.median(walls["batch"]),
        "ivf_query_p50_ms": 1e3 * statistics.median(walls["read"]),
        "ivf_query_p90_ms": 1e3 * p90(walls["read"]),
        "ivf_query_samples": len(walls["read"]),
        "ivf_recall_at10": statistics.fmean(st["recall"]),
    }


# ------------------------------------------------------------------ registry ----


WORKLOADS = {
    "index_ask_curate": {"setup": index_setup, "op": index_op, "finish": index_finish,
                         "summary": index_summary},
    "reindex_serve": {"setup": reindex_setup, "op": reindex_op, "finish": reindex_finish,
                      "summary": reindex_summary},
}

# layers in the order the per-layer metrics are reported
LAYERS = (
    "session", "sources.corpus", "operators.chunk", "operators.embed", "sources.store",
    "tools.index_cli", "operators.search", "functions.argmin", "operators.rag",
    "sources.index_store", "operators.dedup", "operators.curation",
)

# layer-specific traced metrics -> unit; every traced run reports all of them
LAYER_SPECIFIC = {
    "session.start_s": "s",
    "corpus.files": "count",
    "corpus.bytes": "bytes",
    "corpus.files_errored": "count",
    "chunk.chunks_out": "count",
    "embed.texts": "count",
    "store.files_written": "count",
    "store.bytes_written": "bytes",
    "store.fresh_ratio": "ratio",
    "index.jobs": "count",
    "index.reexec_s": "s",
    "search.jobs_per_query": "count",
    "search.tasks_per_query": "count",
    "ivf.build_s": "s",
    "ivf.lists_probed": "count",
    "ivf.files_in_snapshot": "count",
    "ivf.retrain_jobs": "count",
    "dedup.candidate_pairs": "count",
    "dedup.true_pair_ratio": "ratio",
    "curation.dup_span_docs": "count",
    "trace.wall_s": "s",
    "trace.prefix_s": "s",
    "trace.unattributed_s": "s",
    "trace.write_p50_ms": "ms",
    "trace.read_p50_ms": "ms",
    "trace.batch_p50_ms": "ms",
    "trace.overhead_ms": "ms",
}
