"""End-to-end test of the batch indexing CLI (reference index.py:481-580
entry-point parity): scan -> chunk -> embed -> store + manifest, plus the
--append idempotent-upsert mode and the ask.py retrieval path over the
resulting store."""

import pytest


@pytest.fixture()
def corpus(tmp_path):
    d = tmp_path / "repo"
    d.mkdir()
    (d / "app.log").write_text("alpha beta gamma delta\n" * 30, encoding="utf-8")
    (d / "notes.txt").write_text("query join scan filter\n" * 20, encoding="utf-8")
    (d / "binary.bin").write_bytes(b"\x00\x01\x02 junk")
    return d


@pytest.mark.spark
@pytest.mark.slow
def test_index_cli_builds_store_and_manifest(spark, corpus, tmp_path):
    from log_vector_spark.sources.store import read_chunks, read_manifest
    from tools.index_cli import build_index

    store = str(tmp_path / "store")
    stats = build_index(spark, str(corpus), store, chunk_size=200)
    assert stats["chunks_written"] > 0
    assert stats["files_errored"] == 1  # the null-byte binary

    chunks = read_chunks(spark, store)
    assert chunks.count() == stats["chunks_written"]
    cols = set(chunks.columns)
    assert {"chunk_id", "source", "chunk_index", "total_chunks", "document", "embedding"} <= cols

    man = read_manifest(spark, store)
    assert man["chunk_size"] == 200
    assert man["embedding_type"] == "deterministic"

    # the ask.py retrieval path works over the CLI-built store
    from tools.ask import make_query_fn

    answer = make_query_fn(spark, store)("what is a scan?")
    assert isinstance(answer, str) and answer


@pytest.mark.spark
@pytest.mark.slow
def test_index_cli_append_is_idempotent(spark, corpus, tmp_path):
    from log_vector_spark.sources.store import read_chunks
    from tools.index_cli import build_index

    store = str(tmp_path / "store")
    first = build_index(spark, str(corpus), store, chunk_size=200, append=True)
    again = build_index(spark, str(corpus), store, chunk_size=200, append=True)
    assert first["chunks_written"] > 0
    assert again["chunks_written"] == 0  # same corpus -> nothing new
    assert read_chunks(spark, store).count() == first["chunks_written"]


def test_index_cli_missing_path_exits_nonzero():
    from tools.index_cli import main

    assert main(["/definitely/not/a/path"]) == 1


@pytest.mark.spark
def test_store_writes_take_counters_from_the_write(spark, corpus, tmp_path, caplog):
    """Counters are observed during the store write instead of re-run as
    actions afterwards, pinned as Spark job counts under one job group
    (local[8]).  build_index on this corpus: 7 jobs with the post-write
    counts, 3 now.  index_incremental on one edit batch (one edit, one add,
    one delete): 47-48 jobs with the three diff actions, the lazy
    checkpoint and the read-back count, 25-26 now (AQE's runtime plan
    choices move the count by one).  Each call also logs one INFO record."""
    import logging

    from log_vector_spark.operators.embed import DeterministicEmbedder
    from log_vector_spark.sources.store import index_incremental, read_chunks
    from tools.index_cli import build_index

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            return fn(), len(tracker.getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    caplog.set_level(logging.INFO)
    store = str(tmp_path / "store")
    stats, n_jobs = jobs("build_index", lambda: build_index(spark, str(corpus), store, chunk_size=200))
    assert n_jobs <= 3
    assert stats["chunks_written"] == read_chunks(spark, store).count()
    assert stats["files_errored"] == 1  # the null-byte binary

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, source string, text string")

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    v1 = [(i, "srcA" if i < 5 else "srcB", "\n".join(words[(i + j) % 6] for j in range(60)))
          for i in range(10)]
    v2 = [(i, s, t + " x" if i == 3 else t) for (i, s, t) in v1 if i != 0]
    v2.append((100, "srcA", v1[0][2]))
    incr = str(tmp_path / "incr")
    emb = DeterministicEmbedder(dim=16)
    index_incremental(docs(v1), incr, emb, chunk_size=80)
    stats, n_jobs = jobs("index_incremental", lambda: index_incremental(
        docs(v2), incr, emb, chunk_size=80))
    assert n_jobs <= 26
    assert (stats["n_stale_docs"], stats["n_deleted_docs"]) == (2, 1)

    logged = {r.name: r.args for r in caplog.records if r.levelno == logging.INFO}
    assert logged["tools.index_cli"]["chunks_written"] == read_chunks(spark, store).count()
    assert logged["log_vector_spark.sources.store"]["touched_sources"] == ["srcA"]
    assert logged["log_vector_spark.sources.store"]["wall_s"] > 0
