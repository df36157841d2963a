"""Degenerate-corpus robustness sweep (generalizing the r5 ADVICE find).

The advisor caught repetition_stats crashing on any document under 3
words — a crash class (descending sequence(), element_at past bounds,
0/0 divisions) that only degenerate inputs expose and the synthetic
corpus (all >=4-word docs) never exercises.  This sweep re-points EVERY
registered query that reads the documents table at a corpus of edge-case
documents — empty text, whitespace-only, 1/2-word, unicode, very long
repeated token, null-ish punctuation — plus the other tables from
sf0.001, and asserts each query plans and EXECUTES without throwing.

Value correctness against the oracle is the driver's job; this pins the
weaker but corpus-independent property "no degenerate document can crash
the plan"."""

import os
import shutil

import pytest

SF = "/root/testdata/sf0.001"

DEGENERATE_DOCS = [
    # (doc_id, text, lang, source)
    (0, "", "en", "src0"),
    (1, "   ", "en", "src0"),
    (2, "solo", "en", "src1"),
    (3, "two words", "es", "src1"),
    (4, "a a", "en", "src2"),
    (5, "x " * 500, "de", "src2"),                # long run of one token
    (6, "ümläut töken wörd", "de", "src3"),
    (7, ". , ! ?", "fr", "src3"),                 # punctuation-only tokens
    (8, "word " * 3, "en", "src4"),
    (9, "the the the the the", "en", "src4"),     # all stopwords
]


@pytest.fixture(scope="module")
def degenerate_sf(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("degen_sf"))
    for t in (
        "region nation customer supplier part orders lineitem events embeddings"
    ).split():
        shutil.copy(os.path.join(SF, f"{t}.parquet"), os.path.join(root, f"{t}.parquet"))
    docs = spark.createDataFrame(
        [(i, s, lang, src, len(s)) for i, s, lang, src in DEGENERATE_DOCS],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.parquet(os.path.join(root, "_docs_tmp"))
    # driver layout expects a single file named documents.parquet
    part = [
        f
        for f in os.listdir(os.path.join(root, "_docs_tmp"))
        if f.endswith(".parquet")
    ][0]
    shutil.move(
        os.path.join(root, "_docs_tmp", part), os.path.join(root, "documents.parquet")
    )
    shutil.rmtree(os.path.join(root, "_docs_tmp"))
    return root


def _documents_queries():
    import __spark_entry__ as m

    qs, oracles = m.queries(), m.oracle_sql()
    out = []
    for name, sql in oracles.items():
        if "documents" in sql and "embeddings" not in sql:
            out.append(name)
    return sorted(out)


@pytest.mark.spark
@pytest.mark.parametrize("name", _documents_queries())
def test_query_survives_degenerate_documents(spark, degenerate_sf, name):
    import __spark_entry__ as m

    df = m.queries()[name](spark, degenerate_sf)
    df.limit(20).collect()  # execution, not just planning, must survive


DEGENERATE_VECS = (
    # zero vectors (the reference's error sentinel, index.py:138), exact
    # duplicates (tie-break stress), a NULL embedding, near-zero floats —
    # all 64-wide (width is a schema contract; a wrong width raising is the
    # argmin kernels' INTENDED behavior, not a robustness gap)
    [(i, [0.0] * 64, i % 4) for i in range(6)]
    + [(i, [1.0] + [0.0] * 63, i % 4) for i in range(6, 12)]
    + [(i, [1e-30] * 64, i % 4) for i in range(12, 18)]
    + [(18, None, 0)]
    + [(i, [float((i * j) % 7 - 3) for j in range(64)], i % 4) for i in range(19, 40)]
)


@pytest.fixture(scope="module")
def degenerate_emb_sf(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("degen_emb_sf"))
    for t in (
        "region nation customer supplier part orders lineitem events documents"
    ).split():
        shutil.copy(os.path.join(SF, f"{t}.parquet"), os.path.join(root, f"{t}.parquet"))
    emb = spark.createDataFrame(
        DEGENERATE_VECS, "vec_id long, embedding array<float>, label int"
    )
    emb.coalesce(1).write.parquet(os.path.join(root, "_emb_tmp"))
    part = [
        f for f in os.listdir(os.path.join(root, "_emb_tmp")) if f.endswith(".parquet")
    ][0]
    shutil.move(
        os.path.join(root, "_emb_tmp", part), os.path.join(root, "embeddings.parquet")
    )
    shutil.rmtree(os.path.join(root, "_emb_tmp"))
    return root


def _embeddings_queries():
    import __spark_entry__ as m

    return sorted(
        name for name, sql in m.oracle_sql().items() if "embeddings" in sql
    )


@pytest.mark.spark
@pytest.mark.parametrize("name", _embeddings_queries())
def test_query_survives_degenerate_embeddings(spark, degenerate_emb_sf, name):
    import __spark_entry__ as m

    df = m.queries()[name](spark, degenerate_emb_sf)
    df.limit(20).collect()


@pytest.fixture(scope="module")
def empty_sf(spark, tmp_path_factory):
    """documents AND embeddings empty (0 rows, correct schema) — the
    empty-partition / empty-source case every operator meets at 100 TB."""
    root = str(tmp_path_factory.mktemp("empty_sf"))
    for t in (
        "region nation customer supplier part orders lineitem events"
    ).split():
        shutil.copy(os.path.join(SF, f"{t}.parquet"), os.path.join(root, f"{t}.parquet"))

    def write_single(df, name):
        tmp = os.path.join(root, f"_{name}_tmp")
        df.coalesce(1).write.parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        shutil.move(os.path.join(tmp, part), os.path.join(root, f"{name}.parquet"))
        shutil.rmtree(tmp)

    write_single(
        spark.createDataFrame(
            [], "doc_id long, text string, lang string, source string, n_chars long"
        ),
        "documents",
    )
    write_single(
        spark.createDataFrame([], "vec_id long, embedding array<float>, label int"),
        "embeddings",
    )
    return root


def _doc_or_emb_queries():
    import __spark_entry__ as m

    return sorted(
        name
        for name, sql in m.oracle_sql().items()
        if "documents" in sql or "embeddings" in sql
    )


@pytest.mark.spark
@pytest.mark.parametrize("name", _doc_or_emb_queries())
def test_query_survives_empty_corpus(spark, empty_sf, name):
    import __spark_entry__ as m

    df = m.queries()[name](spark, empty_sf)
    df.limit(20).collect()


@pytest.fixture(scope="module")
def empty_events_sf(spark, tmp_path_factory):
    """events empty (0 rows, correct schema), other tables intact — the
    quiet-stream / fresh-shard case for the log-analytics family."""
    root = str(tmp_path_factory.mktemp("empty_events_sf"))
    for t in (
        "region nation customer supplier part orders lineitem documents embeddings"
    ).split():
        shutil.copy(os.path.join(SF, f"{t}.parquet"), os.path.join(root, f"{t}.parquet"))
    tmp = os.path.join(root, "_events_tmp")
    spark.createDataFrame(
        [],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(tmp)
    part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    shutil.move(os.path.join(tmp, part), os.path.join(root, "events.parquet"))
    shutil.rmtree(tmp)
    return root


def _events_queries():
    import __spark_entry__ as m

    return sorted(
        name
        for name, sql in m.oracle_sql().items()
        if "events" in sql and "documents" not in sql and "embeddings" not in sql
    )


@pytest.mark.spark
@pytest.mark.parametrize("name", _events_queries())
def test_query_survives_empty_events(spark, empty_events_sf, name):
    import __spark_entry__ as m

    df = m.queries()[name](spark, empty_events_sf)
    df.limit(20).collect()  # execution, not just planning, must survive
