"""Reference computations and output checks for the benchmark.

Each check returns a list of human-readable failure strings (empty = pass)
so a run can count failed operations and still report every metric.  The
references are independent NumPy / pure-Python recomputations; only the
pure chunking kernel and the deterministic embedder are shared with the
engine, as the specification of what the engine must compute.
"""

from __future__ import annotations

import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

# Java's \s (the engine's whitespace-only-chunk filter) is ASCII whitespace
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]")
_HIT_RE = re.compile(r"^File: (.+) \(chunk (\d+)\)$", re.M)
ERROR_PREFIX = "Error generating answer:"


def expected_chunks(text: str, chunk_size: int) -> list[tuple[int, str]]:
    """(chunk_index, document) pairs the engine's chunker must emit."""
    from log_vector_spark.operators.chunk import chunk_greedy_lines

    return [
        (i, c) for i, c in enumerate(chunk_greedy_lines(text, chunk_size))
        if _JAVA_WS.sub("", c)
    ]


def spark_round6(x: float) -> float:
    """SQL ROUND(x, 6): HALF_UP on the shortest decimal form of the double."""
    return float(Decimal(repr(float(x))).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def fold_cosine(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Cosine of every row of ``mat`` against ``q`` in the engine's exact
    IEEE order: per-element double products, summed left to right from 0.0,
    dot / (|a| * |b|), 0.0 when a norm is 0."""
    a = mat.astype(np.float64)
    b = np.asarray(q, dtype=np.float64)
    dot = np.zeros(len(a))
    na = np.zeros(len(a))
    nb = 0.0
    for d in range(a.shape[1]):
        dot = dot + a[:, d] * b[d]
        na = na + a[:, d] * a[:, d]
        nb = nb + b[d] * b[d]
    denom = np.sqrt(na) * np.sqrt(nb)
    with np.errstate(divide="ignore", invalid="ignore"):
        out = np.where(denom == 0.0, 0.0, dot / np.where(denom == 0.0, 1.0, denom))
    return out


def topk(ids: list, scores: np.ndarray, k: int) -> list:
    """Top-k ids by (rounded score desc, id asc)."""
    rounded = [spark_round6(s) for s in scores]
    order = sorted(range(len(ids)), key=lambda i: (-rounded[i], ids[i]))
    return [ids[i] for i in order[:k]]


# ------------------------------------------------------------------ index ----


def check_index(stats: dict, expected_chunk_count: int, n_binaries: int) -> list[str]:
    bad = []
    if stats.get("chunks_written") != expected_chunk_count:
        bad.append(f"chunks_written {stats.get('chunks_written')} != {expected_chunk_count}")
    if stats.get("files_errored") != n_binaries:
        bad.append(f"files_errored {stats.get('files_errored')} != {n_binaries}")
    return bad


# -------------------------------------------------------------------- ask ----


def answer_hits(ans: str) -> list[tuple[str, int]]:
    """(source, chunk_index) of every context block, in rank order."""
    return [(m.group(1), int(m.group(2))) for m in _HIT_RE.finditer(ans)]


def check_answer(ans: str, expected: list[tuple[str, int]]) -> list[str]:
    if ans.startswith(ERROR_PREFIX):
        return [ans[:200]]
    got = answer_hits(ans)
    if got != expected:
        return [f"top-{len(expected)} {got} != {expected}"]
    return []


# ---------------------------------------------------------------- reindex ----


def expected_store(docs: list[tuple[int, str, str]], chunk_size: int) -> set[tuple[str, str]]:
    """(chunk_id, document) set of a fresh full index of ``docs``."""
    return {
        (f"{src}:{doc_id}:{i}", c)
        for doc_id, src, text in docs
        for i, c in expected_chunks(text, chunk_size)
    }


def check_reindex(
    stored: set[tuple[str, str]], expected: set[tuple[str, str]],
    embedded_texts: int, stale_chunks: int,
) -> list[str]:
    bad = []
    if stored != expected:
        bad.append(
            f"store differs from a fresh index: {len(stored - expected)} extra, "
            f"{len(expected - stored)} missing"
        )
    if embedded_texts != stale_chunks:
        bad.append(f"embedded {embedded_texts} texts, stale documents have {stale_chunks} chunks")
    return bad


# -------------------------------------------------------------------- IVF ----


def ivf_assign(cents_ids: list[int], cents: np.ndarray, vecs: np.ndarray) -> np.ndarray:
    """List id of every vector: best rounded cosine, lowest list id on ties."""
    cent_scores = np.stack([fold_cosine(vecs, c) for c in cents], axis=1)
    rounded = np.vectorize(spark_round6)(cent_scores)
    # argmax picks the first maximum: order the lists by id first
    order = np.argsort(cents_ids, kind="stable")
    return np.asarray(cents_ids)[order][np.argmax(rounded[:, order], axis=1)]


def ivf_reference(
    cents_ids: list[int], cents: np.ndarray, assign: np.ndarray, vec_ids: np.ndarray,
    vecs: np.ndarray, q: list[float], k: int, nprobe: int,
) -> list[int]:
    """IVF top-k under the given quantizer and assignment: the ``nprobe``
    best lists probed, exact rounded-cosine top-k inside them."""
    probed = topk(list(cents_ids), fold_cosine(cents, q), nprobe)
    mask = np.isin(assign, probed)
    return topk(list(vec_ids[mask]), fold_cosine(vecs[mask], q), k)


def check_ivf(got: list[int], expected: list[int]) -> list[str]:
    return [] if got == expected else [f"ivf top-k {got} != {expected}"]


def recall(got: list[int], exact: list[int]) -> float:
    return len(set(got) & set(exact)) / max(1, len(exact))


# ---------------------------------------------------------------- curate ----


def check_exact_dedup(rows: list[tuple[int, int]], docs: list[tuple[int, str]]) -> list[str]:
    """exact_dedup's (keep_doc_id, n_dups) rows against the documents
    grouped by text: one row per distinct text, the lowest id survives."""
    groups: dict[str, list[int]] = {}
    for doc_id, text in docs:
        groups.setdefault(text, []).append(doc_id)
    expected = sorted((min(ids), len(ids)) for ids in groups.values())
    if sorted(rows) != expected:
        wrong = sorted(set(rows) ^ set(expected))[:4]
        return [f"exact-dedup survivors differ from the text groups: {wrong}"]
    return []


def components(pairs: list[tuple[int, int]], ids: list[int]) -> dict[int, int]:
    """Smallest id of each vertex's connected component (union-find)."""
    parent = {i: i for i in ids}

    def root(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in pairs:
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: root(i) for i in ids}


def check_components(
    labels: dict[int, int], pairs: list[tuple[int, int]], ids: list[int]
) -> list[str]:
    """Both ends of every candidate pair share a label, and each label is
    the smallest id of its component."""
    bad = [f"pair {a}-{b} split over components {labels.get(a)}, {labels.get(b)}"
           for a, b in pairs if labels.get(a) != labels.get(b)][:4]
    expected = components(pairs, ids)
    if not bad and labels != expected:
        wrong = sorted(i for i in ids if labels.get(i) != expected[i])[:4]
        bad.append(f"component labels differ from union-find at docs {wrong}")
    return bad


def check_curation(out: dict, table: dict) -> list[str]:
    """Spans, Gopher rules and text quality against what the table plants:
    every document is reported once, every boilerplate document has a
    duplicate span, every low-quality document fails the Gopher gate, and
    token counts equal a whitespace split."""
    bad = []
    tokens = {doc_id: len(text.split()) for doc_id, text in table["docs"]}
    for name in ("dup_spans", "gopher_pass", "n_tokens"):
        if set(out[name]) != set(tokens):
            bad.append(f"{name} covers {len(out[name])} documents, the table has {len(tokens)}")
    missed = [d for d in table["boilerplate"] if not out["dup_spans"].get(d)]
    if missed:
        bad.append(f"boilerplate documents without a duplicate span: {missed[:4]}")
    passed = [d for d in table["low_quality"] if out["gopher_pass"].get(d) is not False]
    if passed:
        bad.append(f"low-quality documents not rejected by the Gopher rules: {passed[:4]}")
    if out["n_tokens"] != tokens:
        bad.append("text_quality token counts differ from a whitespace split")
    return bad


def planted_pairs(families: list[list[int]]) -> set[tuple[int, int]]:
    """Every (lower id, higher id) pair inside a planted duplicate family."""
    return {(a, b) for ids in families for a in ids for b in ids if a < b}
