"""Incremental re-index with change detection (VERDICT r6 item 7): a second
run must re-chunk/re-embed ONLY changed/new documents, carry unchanged rows
byte-identically, drop deleted docs, and leave partitions with no changes
physically untouched on disk."""

import os
import sys

import pytest
from pyspark import cloudpickle
from pyspark.sql import DataFrame, functions as F

from log_vector_spark.operators.embed import DeterministicEmbedder
from log_vector_spark.sources.store import INCR_FP_COL

# the CountingEmbedder class rides into the embed UDF closure; executors
# can't import the tests package, so ship this module by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])


class CountingEmbedder(DeterministicEmbedder):
    """Deterministic embedder that counts every text it embeds via a Spark
    accumulator — the proof the expensive UDF ran only on stale docs."""

    def __init__(self, acc, dim: int = 16):
        super().__init__(dim=dim)
        self.acc = acc

    def embed_batch(self, texts):
        self.acc.add(len(texts))
        return super().embed_batch(texts)


def _word_text(seed: int, n: int = 60) -> str:
    # newline-separated so the greedy LINE chunker packs multiple chunks
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    return "\n".join(words[(seed + i) % len(words)] for i in range(n))


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def _files(part_dir):
    out = {}
    for root, _dirs, names in os.walk(part_dir):
        for n in names:
            p = os.path.join(root, n)
            st = os.stat(p)
            out[os.path.relpath(p, part_dir)] = (st.st_size, st.st_mtime_ns)
    return out


# ------------------------------------------------------ reference plan ----


def _old_index_incremental(
    docs: DataFrame,
    path: str,
    embedder,
    chunk_size: int = 400,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
) -> dict:
    """The pre-observe plan of ``sources/store.index_incremental``, kept
    verbatim as the executable reference: three separate actions size the
    fingerprint diff, a lazy checkpoint of the fresh rows feeds a post-write
    partition probe, and the fresh count is re-read from the store."""
    from pyspark.errors import AnalysisException

    from log_vector_spark.operators.chunk import chunk_documents

    spark = docs.sparkSession
    target = os.path.join(path, "chunks_incr")
    fps = docs.select(
        F.col(id_col), F.col(source_col), F.md5(F.col(text_col)).alias(INCR_FP_COL)
    )
    # local-path short-circuit: probing a known-absent store through
    # spark.read logs a full analysis stack trace per run (first-write is
    # the COMMON case for this operator's callers); object-store URIs fall
    # through to the exception path
    if "://" not in target and not os.path.isdir(target):
        stored_fps = None
    else:
        try:
            stored_fps = (
                spark.read.parquet(target)
                .select(id_col, source_col, INCR_FP_COL)
                .distinct()
            )
        except AnalysisException as e:
            if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
                raise
            stored_fps = None

    if stored_fps is None:
        stale_docs = docs
        deleted = None
        touched = [r[0] for r in docs.select(source_col).distinct().collect()]
        n_deleted = 0
    else:
        # diff key is the FULL (id, source, fp) triple: a doc whose source
        # moved but whose text is unchanged is stale too (ADVICE r7 —
        # keying on (id, fp) alone kept the old source forever)
        stale_ids = fps.join(
            stored_fps, [id_col, source_col, INCR_FP_COL], "left_anti"
        ).select(id_col, source_col)
        deleted = stored_fps.join(fps.select(id_col), id_col, "left_anti").select(
            id_col, source_col
        )
        # touched partitions: sources holding a stale or deleted document,
        # PLUS the stored (old) sources of stale ids — a (doc_id, source)
        # move must rewrite the old partition or its chunks survive
        # alongside the re-indexed ones.  Bounded collect by design — the
        # store is partitioned by a low-cardinality source prefix (module
        # docstring).
        stale_old_src = stored_fps.join(
            stale_ids.select(id_col), id_col, "left_semi"
        ).select(source_col)
        touched_df = (
            stale_ids.select(source_col)
            .union(deleted.select(source_col))
            .union(stale_old_src)
            .distinct()
        )
        touched = [r[0] for r in touched_df.collect()]
        n_deleted = deleted.count()
        stale_docs = docs.join(stale_ids.select(id_col), id_col, "left_semi")

    if not touched:
        return {
            "n_stale_docs": 0,
            "n_deleted_docs": 0,
            "n_fresh_chunks": 0,
            "n_carried_chunks": 0,
            "touched_sources": [],
        }

    chunked = chunk_documents(
        stale_docs, chunk_size=chunk_size, id_col=id_col,
        source_col=source_col, text_col=text_col,
    )
    # fingerprints of the stale docs only (md5 recompute is trivial next to
    # the embed UDF); AQE broadcasts the small side of the id join
    fps_stale = stale_docs.select(
        F.col(id_col), F.md5(F.col(text_col)).alias(INCR_FP_COL)
    )
    # spread the embed UDF across cores: the chunk explode inherits the
    # docs scan partitioning (a single-file table reads as 1 partition),
    # which would otherwise run the pipeline's expensive map on one core
    nparts = spark.sparkContext.defaultParallelism
    fresh = (
        chunked.withColumn(
            # chunk_id = source:doc_id:chunk_index; second-to-last token so
            # a ':' inside source can never corrupt the id
            id_col,
            F.element_at(F.split(F.col("chunk_id"), ":"), -2).cast("long"),
        )
        .join(fps_stale, id_col)
        .repartition(nparts, F.col("chunk_id"))
        .withColumn("embedding", embedder.embed_col(F.col("document")))
        .select(
            "chunk_id", "source", "chunk_index", "total_chunks", "document",
            "embedding", id_col, INCR_FP_COL,
        )
        # lazy checkpoint: the store write below materializes this once;
        # the post-write written-partitions probe then reuses it instead
        # of re-running the embed UDF (the bitext lazy-checkpoint
        # discipline)
        .localCheckpoint(eager=False)
    )
    n_stale = stale_docs.count()

    if stored_fps is None:
        if n_stale == 0:
            # empty first corpus: nothing to write — an all-empty
            # partitioned write would leave an unreadable parquet dir
            return {
                "n_stale_docs": 0,
                "n_deleted_docs": 0,
                "n_fresh_chunks": 0,
                "n_carried_chunks": 0,
                "touched_sources": [],
            }
        # one shuffle by the partition column before the write: without it
        # every task writes a sliver into every source dir (32 files per
        # partition from the embed-spread repartition above) — footer count
        # dominates the later fingerprint-diff scans and the write itself
        (
            fresh.repartition(F.col(source_col))
            .write.mode("overwrite")
            .partitionBy(source_col)
            .parquet(target)
        )
        n_fresh = spark.read.parquet(target).count()
        return {
            "n_stale_docs": n_stale,
            "n_deleted_docs": 0,
            "n_fresh_chunks": n_fresh,
            "n_carried_chunks": 0,
            "touched_sources": sorted(touched),
        }

    # carry-over: surviving rows of touched partitions only (partition-
    # pruned scan), materialized to break the same-path read/overwrite
    # cycle before the dynamic overwrite below replaces those partitions.
    # Survival key is the full (id, source, fp) triple — a moved doc's old
    # row matches on (id, fp) but not source and must NOT be carried.
    current_keys = fps.select(id_col, source_col, INCR_FP_COL)
    carry = (
        spark.read.parquet(target)
        .filter(F.col(source_col).isin(touched))
        .join(current_keys, [id_col, source_col, INCR_FP_COL], "left_semi")
        .localCheckpoint(eager=True)
    )
    n_carried = carry.count()
    out = carry.select(*fresh.columns).unionByName(fresh)
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            out.repartition(F.col(source_col))
            .write.mode("overwrite")
            .partitionBy(source_col)
            .parquet(target)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    # dynamic overwrite only replaces partitions PRESENT in the written
    # data — a touched partition whose every doc was deleted (nothing
    # carried, nothing fresh) would silently keep its stale rows.  Remove
    # those partition dirs explicitly (touched is a bounded list).
    import shutil as _shutil

    written = {
        r[0] for r in out.select(source_col).distinct().collect()
    }
    for src_val in set(touched) - written:
        pdir = os.path.join(target, f"{source_col}={src_val}")
        if os.path.isdir(pdir):
            _shutil.rmtree(pdir)
    if not written and not any(
        d.startswith(f"{source_col}=") for d in os.listdir(target)
    ):
        # every partition deleted: the store is now empty (unreadable as
        # parquet) — count from what we know instead of a failing read
        n_fresh = 0
    else:
        n_fresh = (
            spark.read.parquet(target)
            .filter(F.col(source_col).isin(touched))
            .count()
            - n_carried
        )
    return {
        "n_stale_docs": n_stale,
        "n_deleted_docs": n_deleted,
        "n_fresh_chunks": n_fresh,
        "n_carried_chunks": n_carried,
        "touched_sources": sorted(touched),
    }


@pytest.mark.spark
@pytest.mark.slow
def test_incremental_reindex_only_touches_changed(spark, tmp_path):
    from log_vector_spark.operators.chunk import chunk_documents
    from log_vector_spark.sources.store import (
        index_incremental,
        read_chunks_incremental,
    )

    store = str(tmp_path / "store")
    acc = spark.sparkContext.accumulator(0)
    emb = CountingEmbedder(acc)

    v1 = [(i, "srcA" if i < 5 else "srcB", _word_text(i)) for i in range(10)]
    s1 = index_incremental(_docs_df(spark, v1), store, emb, chunk_size=80)
    assert s1["n_stale_docs"] == 10 and s1["n_carried_chunks"] == 0
    n_embedded_run1 = acc.value
    assert n_embedded_run1 == s1["n_fresh_chunks"] > 10  # multi-chunk docs

    rows_v1 = {
        r["chunk_id"]: r
        for r in read_chunks_incremental(spark, store).collect()
    }
    srcB_dir = os.path.join(store, "chunks_incr", "source=srcB")
    srcB_before = _files(srcB_dir)
    assert srcB_before, "expected partitioned layout"

    # run 2: modify doc 3, delete doc 2, add doc 100 — all in srcA;
    # srcB is completely unchanged
    v2 = [r for r in v1 if r[0] != 2]
    v2 = [(i, s, t if i != 3 else t + " changed tail") for (i, s, t) in v2]
    v2.append((100, "srcA", _word_text(100)))
    s2 = index_incremental(_docs_df(spark, v2), store, emb, chunk_size=80)

    assert s2["n_stale_docs"] == 2  # modified 3 + new 100
    assert s2["n_deleted_docs"] == 1
    assert s2["touched_sources"] == ["srcA"]

    # the embed UDF ran ONLY on the stale docs' chunks
    stale = _docs_df(spark, [r for r in v2 if r[0] in (3, 100)])
    expected_chunks = chunk_documents(stale, chunk_size=80).count()
    assert acc.value - n_embedded_run1 == expected_chunks == s2["n_fresh_chunks"]

    # the unchanged partition's parquet files are physically untouched
    assert _files(srcB_dir) == srcB_before

    final = {
        r["chunk_id"]: r
        for r in read_chunks_incremental(spark, store).collect()
    }
    # deleted doc gone, new doc present, modified doc re-chunked
    assert not any(k.split(":")[-2] == "2" for k in final)
    assert any(k.split(":")[-2] == "100" for k in final)
    # unchanged docs' rows (srcA survivors AND all of srcB) are value-
    # identical to run 1, embeddings included
    unchanged_ids = {"0", "1", "4", "5", "6", "7", "8", "9"}
    for cid, row in rows_v1.items():
        if cid.split(":")[-2] in unchanged_ids:
            assert final[cid] == row, f"carried row drifted: {cid}"

    # run 3: nothing changed -> pure no-op, zero embeds, zero writes
    srcA_dir = os.path.join(store, "chunks_incr", "source=srcA")
    before3 = (_files(srcA_dir), _files(srcB_dir))
    acc3 = acc.value
    s3 = index_incremental(_docs_df(spark, v2), store, emb, chunk_size=80)
    assert s3["n_stale_docs"] == 0 and s3["touched_sources"] == []
    assert acc.value == acc3
    assert (_files(srcA_dir), _files(srcB_dir)) == before3

    # run 4: delete EVERY srcB doc — dynamic overwrite alone cannot empty
    # a partition absent from the written data, so the operator must
    # remove the stale partition dir explicitly
    v3 = [r for r in v2 if r[1] != "srcB"]
    s4 = index_incremental(_docs_df(spark, v3), store, emb, chunk_size=80)
    assert s4["n_deleted_docs"] == 5 and s4["touched_sources"] == ["srcB"]
    assert acc.value == acc3  # nothing re-embedded
    assert not os.path.isdir(srcB_dir)
    final4 = read_chunks_incremental(spark, store)
    assert final4.filter(F.col("source") == "srcB").count() == 0
    assert final4.count() == len(
        [k for k in final if not k.startswith("srcB")]
    )


@pytest.mark.spark
@pytest.mark.slow
def test_source_move_reindexes_and_drops_old_partition(spark, tmp_path):
    """ADVICE r7 (store.py fingerprint diff): a doc whose SOURCE changes
    must be re-indexed even when its text is unchanged, and its chunks
    must vanish from the old partition — no duplicate doc_id rows."""
    from log_vector_spark.sources.store import (
        index_incremental,
        read_chunks_incremental,
    )

    store = str(tmp_path / "store")
    acc = spark.sparkContext.accumulator(0)
    emb = CountingEmbedder(acc)

    v1 = [(i, "srcA" if i < 5 else "srcB", _word_text(i)) for i in range(10)]
    index_incremental(_docs_df(spark, v1), store, emb, chunk_size=80)
    n1 = acc.value

    # move doc 7 srcB -> srcA, text unchanged
    v2 = [(i, "srcA" if (i < 5 or i == 7) else "srcB", t) for (i, _s, t) in v1]
    s2 = index_incremental(_docs_df(spark, v2), store, emb, chunk_size=80)

    assert s2["n_stale_docs"] == 1
    assert s2["n_deleted_docs"] == 0
    # BOTH partitions are touched: new source gains the doc, old loses it
    assert s2["touched_sources"] == ["srcA", "srcB"]
    assert acc.value > n1  # the moved doc really re-embedded

    final = read_chunks_incremental(spark, store)
    rows7 = final.filter(F.col("chunk_id").like("%:7:%")).collect()
    assert rows7, "moved doc missing from store"
    assert {r["source"] for r in rows7} == {"srcA"}, "old-partition chunks survived"
    # exactly one row per chunk_id — the duplicate-doc defect is the bug
    assert final.count() == final.select("chunk_id").distinct().count()

    # text + source change together: old partition still cleaned
    v3 = [
        (i, "srcC" if i == 1 else s, t + " edited" if i == 1 else t)
        for (i, s, t) in v2
    ]
    s3 = index_incremental(_docs_df(spark, v3), store, emb, chunk_size=80)
    assert s3["n_stale_docs"] == 1
    assert "srcA" in s3["touched_sources"] and "srcC" in s3["touched_sources"]
    final3 = read_chunks_incremental(spark, store)
    rows1 = final3.filter(F.col("chunk_id").like("%:1:%")).collect()
    assert rows1 and {r["source"] for r in rows1} == {"srcC"}
    assert final3.count() == final3.select("chunk_id").distinct().count()


def _edit_sequence(seed: int):
    """One seeded replay covering every diff state: (label, docs) batches
    for a store that starts empty."""
    import random

    rng = random.Random(seed)
    v = {i: ("srcA" if i < 4 else "srcB" if i < 8 else "srcC", _word_text(i, 24))
         for i in range(12)}

    def rows():
        return sorted((i, s, t) for i, (s, t) in v.items())

    yield "empty first corpus", []
    yield "first write", rows()
    edited, dropped = rng.sample([i for i in v if i < 8], 2)
    v[edited] = (v[edited][0], v[edited][1] + "\nedited")
    del v[dropped]
    v[100 + rng.randrange(100)] = ("srcA", _word_text(7, 24))
    yield "edit + add + delete", rows()
    # one doc moves with its text unchanged, another moves with an edit
    moved, moved_edited = rng.sample([i for i, (s, _t) in v.items() if s != "srcC"], 2)
    v[moved] = ("srcD", v[moved][1])
    v[moved_edited] = ("srcE", v[moved_edited][1] + "\nmoved")
    yield "source moves", rows()
    v = {i: st for i, st in v.items() if st[0] != "srcC"}
    yield "partition emptied by deletes", rows()
    yield "no-op", rows()


@pytest.mark.spark
def test_observed_plan_matches_reference_plan(spark, tmp_path):
    """The one-pass plan (diff checkpointed once, counters observed during
    the write) against the reference plan above, replayed side by side:
    equal return dicts, equal store content and layout, equal embed work;
    the new plan also leaves every untouched partition's files as they
    were."""
    from log_vector_spark.sources.store import (
        index_incremental,
        read_chunks_incremental,
    )

    cols = ("chunk_id", "source", "document", "doc_id", INCR_FP_COL, "embedding")
    roots = {"old": str(tmp_path / "old"), "new": str(tmp_path / "new")}
    plans = {"old": _old_index_incremental, "new": index_incremental}
    accs = {k: spark.sparkContext.accumulator(0) for k in plans}
    embs = {k: CountingEmbedder(accs[k]) for k in plans}

    def content(root):
        target = os.path.join(root, "chunks_incr")
        parts = sorted(d for d in os.listdir(target) if d.startswith("source="))
        rows = read_chunks_incremental(spark, root).select(*cols).collect() if parts else []
        return parts, sorted(tuple(r) for r in rows)

    for label, rows in _edit_sequence(7):
        new_dir = os.path.join(roots["new"], "chunks_incr")
        before = {
            d: _files(os.path.join(new_dir, d))
            for d in (os.listdir(new_dir) if os.path.isdir(new_dir) else [])
            if d.startswith("source=")
        }
        got = {}
        for k, plan in plans.items():
            start = accs[k].value
            stats = plan(_docs_df(spark, rows), roots[k], embs[k], chunk_size=80)
            got[k] = (stats, accs[k].value - start)
        assert got["new"] == got["old"], label
        stats = got["new"][0]
        if not rows:
            assert not any(os.path.exists(r) for r in roots.values()), label
            continue
        assert content(roots["new"]) == content(roots["old"]), label
        for d, files in before.items():
            if d.split("=", 1)[1] not in stats["touched_sources"]:
                assert _files(os.path.join(new_dir, d)) == files, (label, d)
        if label == "partition emptied by deletes":
            assert stats["touched_sources"] == ["srcC"] and stats["n_deleted_docs"] == 4
            assert stats["n_fresh_chunks"] == stats["n_carried_chunks"] == 0
        if label == "no-op":
            assert stats["touched_sources"] == [] and got["new"][1] == 0
