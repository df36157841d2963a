"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench -q -p no:cacheprovider

The generators are deterministic, every output check rejects a corrupted
output, and the metric names in BENCHMARK.json are the ones run.py emits.
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import inputs  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _tree(root):
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


# ---------------------------------------------------------------- generators ----


def test_log_corpus_is_byte_identical_per_seed(tmp_path):
    a = inputs.write_log_corpus(str(tmp_path / "a"), seed=7)
    b = inputs.write_log_corpus(str(tmp_path / "b"), seed=7)
    c = inputs.write_log_corpus(str(tmp_path / "c"), seed=8)
    assert _tree(a["root"]) == _tree(b["root"])
    assert _tree(a["root"]) != _tree(c["root"])
    assert a["bytes"] == b["bytes"] == sum(len(v) for v in _tree(a["root"]).values())


def test_log_corpus_plants_latin1_and_binaries(tmp_path):
    corpus = inputs.write_log_corpus(str(tmp_path / "c"), seed=3)
    encodings = list(corpus["text_files"].values())
    assert encodings.count("latin-1") == 3
    assert len(corpus["binaries"]) == 3
    for path in corpus["binaries"]:
        with open(path, "rb") as fh:
            assert b"\x00" in fh.read(8192)
    for path, enc in corpus["text_files"].items():
        with open(path, "rb") as fh:
            raw = fh.read()
        if enc == "latin-1":
            with pytest.raises(UnicodeDecodeError):
                raw.decode("utf-8")


def test_tables_vectors_and_queries_are_deterministic():
    docs = inputs.doc_table(5)
    assert docs == inputs.doc_table(5) != inputs.doc_table(6)
    assert inputs.edit_batch(5, 1, docs) == inputs.edit_batch(5, 1, docs)
    assert inputs.edit_batch(5, 1, docs) != inputs.edit_batch(5, 2, docs)
    ids, emb, label = inputs.clustered_vectors(5)
    ids2, emb2, label2 = inputs.clustered_vectors(5)
    assert np.array_equal(emb, emb2) and np.array_equal(label, label2)
    assert not np.isnan(emb).any()
    assert inputs.ivf_queries(5, emb, 4) == inputs.ivf_queries(5, emb, 4)
    assert inputs.questions(5, ["a", "b"], 6) == inputs.questions(5, ["a", "b"], 6)


def test_curate_table_is_deterministic_and_plants_what_it_reports():
    t = inputs.curate_table(5)
    assert t == inputs.curate_table(5) != inputs.curate_table(6)
    texts = dict(t["docs"])
    assert sorted(texts) == list(range(len(texts)))
    assert t["families"] and t["boilerplate"] and t["low_quality"]
    exact = [ids for ids in t["families"] if len({texts[i] for i in ids}) < len(ids)]
    assert exact, "no exact duplicates planted"
    for ids in t["families"]:
        assert len(ids) >= 2 and ids == sorted(ids)
    for d in t["low_quality"]:
        assert len(texts[d].split()) < 50  # below the Gopher word-count floor
    for phrase in inputs.BOILERPLATE:  # a span needs two documents to repeat
        assert sum(phrase in texts[d] for d in t["boilerplate"]) >= 2


def test_edit_batch_touches_few_sources():
    docs = inputs.doc_table(9)
    new = inputs.edit_batch(9, 1, docs)
    changed = set(new) ^ set(docs)
    assert changed
    assert len({d[1] for d in changed}) <= 2


# -------------------------------------------------------------------- checks ----


def test_index_check_rejects_a_dropped_chunk_and_a_missed_binary():
    assert checks.check_index({"chunks_written": 10, "files_errored": 3}, 10, 3) == []
    assert checks.check_index({"chunks_written": 9, "files_errored": 3}, 10, 3)
    assert checks.check_index({"chunks_written": 10, "files_errored": 2}, 10, 3)


def _answer(hits):
    ctx = "\n\n".join(f"File: {s} (chunk {i})\nline one\nline two" for s, i in hits)
    return f"[echo]\nContext:\n{ctx}\n\nQuestion: q\n\nAnswer:"


def test_ask_check_rejects_a_swapped_id_and_an_error_string():
    hits = [("/x/a.log", 0), ("/x/b.log", 2), ("/x/a.log", 1)]
    assert checks.check_answer(_answer(hits), hits) == []
    swapped = [hits[1], hits[0], hits[2]]
    assert checks.check_answer(_answer(swapped), hits)
    assert checks.check_answer("Error generating answer: boom", hits)


def test_topk_orders_by_rounded_score_then_id():
    ids = ["c", "a", "b"]
    scores = np.array([0.5, 0.5000000001, 0.9])
    assert checks.topk(ids, scores, 3) == ["b", "a", "c"]


def test_fold_cosine_matches_numpy_and_zero_vectors():
    rng = np.random.default_rng(0)
    m = rng.normal(size=(5, 8))
    q = rng.normal(size=8)
    ref = m @ q / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    assert np.allclose(checks.fold_cosine(m, q), ref)
    assert checks.fold_cosine(np.zeros((1, 8)), q)[0] == 0.0


def test_reindex_check_rejects_a_dropped_chunk_and_a_wrong_embed_count():
    docs = inputs.doc_table(2)[:10]
    expected = checks.expected_store(docs, 400)
    n = len(expected)
    assert checks.check_reindex(set(expected), expected, 4, 4) == []
    assert checks.check_reindex(set(list(expected)[1:]), expected, 4, 4)
    assert checks.check_reindex(set(expected), expected, n + 1, n)


def test_ivf_reference_is_exact_when_every_list_is_probed():
    ids, emb, _ = inputs.clustered_vectors(4)
    cents_ids = [0, 50, 100, 150, 200]
    cents = emb[cents_ids]
    assign = checks.ivf_assign(cents_ids, cents, emb)
    q = inputs.ivf_queries(4, emb, 1)[0]
    exact = checks.topk(list(ids), checks.fold_cosine(emb, q), 10)
    got = checks.ivf_reference(cents_ids, cents, assign, ids, emb, q, 10, len(cents_ids))
    assert got == exact
    assert checks.check_ivf(got, exact) == []
    swapped = [got[1], got[0]] + got[2:]
    assert checks.check_ivf(swapped, exact)
    assert checks.recall(got[:5], exact) == 0.5


def _curate_output(table, pairs):
    ids = [d[0] for d in table["docs"]]
    groups = {}
    for doc_id, text in table["docs"]:
        groups.setdefault(text, []).append(doc_id)
    return {
        "exact": [(min(g), len(g)) for g in groups.values()],
        "labels": checks.components(pairs, ids),
        "dup_spans": {i: int(i in table["boilerplate"]) for i in ids},
        "gopher_pass": {i: i not in table["low_quality"] for i in ids},
        "n_tokens": {doc_id: len(text.split()) for doc_id, text in table["docs"]},
    }


def test_curate_checks_reject_a_wrong_survivor_and_a_split_component():
    table = inputs.curate_table(3, n_base=40)
    pairs = [tuple(ids[:2]) for ids in table["families"]]
    ids = [d[0] for d in table["docs"]]
    out = _curate_output(table, pairs)
    assert checks.check_exact_dedup(out["exact"], table["docs"]) == []
    assert checks.check_components(out["labels"], pairs, ids) == []
    assert checks.check_curation(out, table) == []
    # a wrong survivor: an exact group keeps its second-lowest id
    group = next(g for g in table["families"] if table["docs"][g[0]][1] == table["docs"][g[1]][1])
    wrong = [(g1, n) if g1 != group[0] else (group[1], n) for g1, n in out["exact"]]
    assert checks.check_exact_dedup(wrong, table["docs"])
    # a candidate pair split over two components
    a, b = pairs[0]
    assert checks.check_components({**out["labels"], b: b}, pairs, ids)
    # an over-merged component: a singleton labelled into a family
    loner = next(i for i in ids if out["labels"][i] == i and i not in {p for q in pairs for p in q})
    assert checks.check_components({**out["labels"], loner: a}, pairs, ids)
    # a boilerplate document missed, a low-quality document passed
    assert checks.check_curation({**out, "dup_spans": {**out["dup_spans"],
                                                      table["boilerplate"][0]: 0}}, table)
    assert checks.check_curation({**out, "gopher_pass": {**out["gopher_pass"],
                                                        table["low_quality"][0]: True}}, table)


def test_planted_pairs_are_every_pair_of_a_family():
    assert checks.planted_pairs([[1, 4, 9], [2, 3]]) == {(1, 4), (1, 9), (4, 9), (2, 3)}


# ------------------------------------------------------------------- metrics ----


def test_benchmark_json_names_match_what_run_emits():
    import run
    import tracing
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert all(NAME_RE.match(n) for n in names), [n for n in names if not NAME_RE.match(n)]
    assert len(names) == len(set(names))
    emitted = [f"{layer}.{c}" for layer in workloads.LAYERS
               for c in tracing.LAYER_UNITS] + list(workloads.LAYER_SPECIFIC)
    assert [m["name"] for m in spec["per_layer"]] == emitted
    assert [m["name"] for m in spec["end_to_end"]] == [
        "setup_s", "write_p50_ms", "read_p50_ms", "batch_p50_ms", "peak_rss_mb"]
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert list(run.WORKLOAD_NAMES) == list(workloads.WORKLOADS)
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
