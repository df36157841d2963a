"""Seeded input generators for the engine benchmark.

Every generator takes an explicit seed and is pure Python (``random.Random``)
or NumPy ``default_rng``, so the same seed yields byte-identical files and
identical tables.  The engine only ever sees what these functions write.

No generator plants NULL or NaN vectors: the embed layer never emits them,
so they are not a user-facing input.  The NULL-vector kernel crash is
covered by the repository's degenerate-input tests, not by this benchmark.
"""

from __future__ import annotations

import os
import random

import numpy as np

LEVELS = ("INFO", "INFO", "INFO", "DEBUG", "WARN", "ERROR")
COMPONENTS = ("auth", "db", "cache", "http", "scheduler", "disk", "net", "queue")
WORDS = tuple(
    "request user session timeout connection refused retry started stopped "
    "completed failed latency bytes memory pressure queue depth worker thread "
    "pool exhausted checksum mismatch replica lagging snapshot written flush "
    "compaction index shard leader elected heartbeat missed token expired the "
    "of and to in is for on with from".split()
)
LOG_SOURCES = 16  # service directories of the log corpus
LATIN1_WORDS = ("café", "señal", "für", "déjà", "naïve", "über", "niño")


def _log_line(rng: random.Random, t: int, words=WORDS) -> str:
    hh, mm, ss = (t // 3600) % 24, (t // 60) % 60, t % 60
    msg = " ".join(rng.choice(words) for _ in range(rng.randint(4, 16)))
    return (
        f"2024-03-{1 + t // 86400 % 28:02d} {hh:02d}:{mm:02d}:{ss:02d} "
        f"{rng.choice(LEVELS)} [{rng.choice(COMPONENTS)}] {msg}"
    )


def write_log_corpus(
    root: str,
    seed: int,
    n_files: int = 60,
    total_lines: int = 6000,
    n_latin1: int = 3,
    n_binary: int = 3,
) -> dict:
    """Write a log directory: ``n_files`` utf-8 ``.log`` files spread over
    LOG_SOURCES service directories with heavy-tailed (Pareto) sizes, plus
    ``n_latin1`` latin-1 encoded logs and ``n_binary`` core dumps holding NUL
    bytes that the scanner must reject.

    The line budget and the multiset of file sizes are fixed, so the
    corpus size barely moves between seeds while the shape does.  File
    weights are capped at 8x the median, so one file cannot hold most of
    the corpus and serialise a run on one core.

    Returns {"root", "bytes", "text_files": {path: encoding}, "binaries"}.
    """
    rng = random.Random(seed)
    # the same Pareto(1.2) size quantiles for every seed, dealt to the files
    # in a seeded order: the seed moves the large files, not the size mix
    weights = [(1 - (i + 0.5) / n_files) ** (-1 / 1.2) for i in range(n_files)]
    rng.shuffle(weights)
    cap = 8 * sorted(weights)[n_files // 2]  # at most 8x the median file
    weights = [min(w, cap) for w in weights]
    spare = total_lines - n_files
    sizes = [1 + int(spare * w / sum(weights)) for w in weights]
    sizes[0] += total_lines - sum(sizes)  # the line budget is exact
    text_files: dict[str, str] = {}
    total = 0

    def put(rel: str, data: bytes, encoding: str | None) -> None:
        nonlocal total
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(data)
        total += len(data)
        if encoding:
            text_files[os.path.abspath(path)] = encoding

    t = rng.randrange(86400)
    for i, n in enumerate(sizes):
        lines = []
        for _ in range(n):
            t += rng.randint(0, 3)
            lines.append(_log_line(rng, t))
        src = f"svc{i % LOG_SOURCES:02d}"
        put(f"{src}/app-{i:04d}.log", ("\n".join(lines) + "\n").encode("utf-8"), "utf-8")
    for i in range(n_latin1):
        lines = [_log_line(rng, t + j, WORDS + LATIN1_WORDS) for j in range(rng.randint(20, 60))]
        put(f"legacy{i}/old-{i}.log", ("\n".join(lines) + "\n").encode("latin-1"), "latin-1")
    binaries = []
    for i in range(n_binary):
        blob = bytes(rng.randrange(256) for _ in range(rng.randint(2048, 8192)))
        put(f"svc{i % LOG_SOURCES:02d}/core.{i}.dump", b"\x7fELF\x00" + blob, None)
        binaries.append(os.path.abspath(os.path.join(root, f"svc{i % LOG_SOURCES:02d}/core.{i}.dump")))
    return {"root": os.path.abspath(root), "bytes": total, "text_files": text_files,
            "binaries": binaries}


def read_text_files(corpus: dict) -> dict[str, str]:
    """path -> decoded text of every non-binary generated file."""
    out = {}
    for path, enc in corpus["text_files"].items():
        with open(path, "rb") as fh:
            out[path] = fh.read().decode(enc)
    return out


def questions(seed: int, chunk_texts: list[str], n: int) -> list[str]:
    """Seeded questions: even positions repeat a stored chunk's text (an
    exact neighbour exists under any embedder), odd positions are random
    word strings with no neighbour."""
    rng = random.Random(seed * 7919 + 1)
    out = []
    for i in range(n):
        if i % 2 == 0:
            out.append(chunk_texts[rng.randrange(len(chunk_texts))])
        else:
            out.append("why " + " ".join(rng.choice(WORDS) for _ in range(rng.randint(3, 9))) + "?")
    return out


# ------------------------------------------------------ document tables ----


DOC_COUNT = 240  # documents of the re-index table
DOC_SOURCES = 8  # sources of the re-index document table
EDIT_SOURCES = 2  # sources one edit batch touches
EDIT_FRAC = 0.03  # share of the documents one edit batch edits


def doc_table(seed: int) -> list[tuple[int, str, str]]:
    """(doc_id, source, text) rows of multi-line log-like documents."""
    rng = random.Random(seed * 31 + 5)
    rows = []
    for i in range(DOC_COUNT):
        lines = [_log_line(rng, i * 100 + j) for j in range(rng.randint(4, 40))]
        rows.append((i, f"src{i % DOC_SOURCES}", "\n".join(lines)))
    return rows


def edit_batch(seed: int, batch: int, docs: list[tuple[int, str, str]]) -> list[tuple[int, str, str]]:
    """Next version of ``docs``: within EDIT_SOURCES seeded sources of the
    table, edit about EDIT_FRAC of the documents, delete about half as
    many and add about half as many new ones.  Deterministic in (seed,
    batch, docs)."""
    rng = random.Random(seed * 1_000_003 + batch)
    sources = set(rng.sample(sorted({d[1] for d in docs}), EDIT_SOURCES))
    n_change = max(2, round(EDIT_FRAC * len(docs)))
    pool = [i for i, d in enumerate(docs) if d[1] in sources]
    picked = rng.sample(pool, min(len(pool), n_change + n_change // 2))
    edits, deletes = picked[:n_change], set(picked[n_change:])
    out = list(docs)
    for i in edits:
        doc_id, src, text = out[i]
        out[i] = (doc_id, src, text + "\n" + _log_line(rng, doc_id * 100 + batch))
    out = [d for i, d in enumerate(out) if i not in deletes]
    next_id = max(d[0] for d in docs) + 1
    srcs = sorted(sources)
    for j in range(max(1, n_change // 2)):
        lines = [_log_line(rng, next_id * 100 + k) for k in range(rng.randint(4, 40))]
        out.append((next_id + j, srcs[j % len(srcs)], "\n".join(lines)))
    return out


# ------------------------------------------------------------ curation ----

STOPWORDS = ("the", "a", "of", "to", "and")
BOILERPLATE = tuple(
    " ".join(words) for words in (
        ("this", "message", "was", "generated", "by", "the", "log", "shipper", "agent",
         "and", "is", "retained", "for", "thirty", "days", "according", "to", "the",
         "storage", "policy", "of", "the", "operations", "team"),
        ("do", "not", "reply", "to", "this", "alert", "contact", "the", "on", "call",
         "engineer", "through", "the", "paging", "system", "and", "attach", "the",
         "incident", "number", "to", "every", "report"),
    )
)


def _prose(rng: random.Random, n_words: int) -> list[str]:
    """Lower-case single-line word soup with stopwords in it."""
    return [rng.choice(STOPWORDS) if rng.random() < 0.25 else rng.choice(WORDS)
            for _ in range(n_words)]


def curate_table(seed: int, n_base: int = 140) -> dict:
    """A document table for the dedup and curation pass, with planted
    exact duplicates, near-duplicates (two token substitutions), shared
    boilerplate spans and low-quality (too short) documents.

    The planted structure and the document lengths repeat every 10
    families, so every seed plants the same counts; the seed draws the
    words, the boilerplate and where it goes, and the order.  Documents
    are shuffled before ids are drawn, so a family's survivor is not
    always its original.  Returns {"docs": [(doc_id, text)],
    "families": [[doc_id]] (planted duplicate families, exact and near
    copies of one original, size >= 2), "boilerplate": [doc_id],
    "low_quality": [doc_id]}.
    """
    rng = random.Random(seed * 104_729 + 11)
    rows = []  # (text, family, boilerplate?, low quality?)
    for fam in range(n_base):
        kind = fam % 10
        if kind == 0:
            rows.append((" ".join(_prose(rng, 8 + fam * 13 % 33)), fam, False, True))
            continue
        words = _prose(rng, 60 + fam * 37 % 81)
        boiler = kind in (1, 6)
        if boiler:
            at = rng.randrange(len(words))
            words[at:at] = rng.choice(BOILERPLATE).split()
        rows.append((" ".join(words), fam, boiler, False))
        if kind in (2, 4, 7):  # exact copies
            rows += [(" ".join(words), fam, boiler, False)] * (2 if kind == 7 else 1)
        if kind in (3, 4, 8):  # near copy: two token substitutions
            near = list(words)
            for at in rng.sample(range(len(near)), 2):
                near[at] = rng.choice(WORDS)
            rows.append((" ".join(near), fam, boiler, False))
    rng.shuffle(rows)
    members: dict[int, list[int]] = {}
    for doc_id, (_, fam, _, _) in enumerate(rows):
        members.setdefault(fam, []).append(doc_id)
    return {
        "docs": [(doc_id, r[0]) for doc_id, r in enumerate(rows)],
        "families": sorted(ids for ids in members.values() if len(ids) > 1),
        "boilerplate": [doc_id for doc_id, r in enumerate(rows) if r[2]],
        "low_quality": [doc_id for doc_id, r in enumerate(rows) if r[3]],
    }


# --------------------------------------------------------------- vectors ----


VEC_DIM = 64
VEC_CLUSTERS = 24
N_VECTORS = 1200  # rows of the IVF store's embeddings table


def clustered_vectors(seed: int):
    """(vec_id int64[N_VECTORS], embedding float32[N_VECTORS, VEC_DIM],
    label int32[N_VECTORS]): points around VEC_CLUSTERS Gaussian centres,
    no NULL or NaN rows."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(VEC_CLUSTERS, VEC_DIM))
    label = rng.integers(0, VEC_CLUSTERS, N_VECTORS).astype(np.int32)
    emb = (centres[label] + 0.35 * rng.normal(size=(N_VECTORS, VEC_DIM))).astype(np.float32)
    return np.arange(N_VECTORS, dtype=np.int64), emb, label


def write_vectors_parquet(sf_dir: str, seed: int) -> np.ndarray:
    """Write ``embeddings.parquet`` (the catalog's table name) under
    ``sf_dir`` and return the float32 matrix."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vec_id, emb, label = clustered_vectors(seed)
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(vec_id),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(label),
        }),
        os.path.join(sf_dir, "embeddings.parquet"),
    )
    return emb


def ivf_queries(seed: int, emb: np.ndarray, n: int) -> list[list[float]]:
    """Query vectors near stored points (float32 values, as a client would
    send rows it read back)."""
    rng = np.random.default_rng(seed + 17)
    idx = rng.integers(0, len(emb), n)
    q = emb[idx] + 0.1 * rng.normal(size=(n, emb.shape[1])).astype(np.float32)
    return [row.astype(np.float32).astype(float).tolist() for row in q]
