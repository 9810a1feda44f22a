"""Seeded benchmark corpora, built with numpy and pyarrow only.

The engine never sees the planted labels: each corpus is written as one
parquet file for the engine to read, and its labels stay on this side in
a second file.  Nothing here imports the engine, so an engine change
cannot change the inputs.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = 1577836800  # 2020-01-01T00:00:00Z
LANGS = ("en", "fr", "es", "de", "zh")
HTML_HEAD = (
    "<html><head><title>page</title><style>body{margin:0}</style>"
    "<script>var x=1;</script></head><body><p>"
)
HTML_TAIL = "</p></body></html>"

PAGES_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)
DOCS_SCHEMA = pa.schema(
    [pa.field("doc_id", pa.int64(), nullable=False), pa.field("text", pa.string())]
)


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, n)))
    return sorted(words)


def crawl_pages(n_pages: int, seed: int) -> tuple[pa.Table, pa.Table]:
    """Crawl pages in planted near-duplicate clusters of 1-5 members.

    Member 0 keeps the cluster's base text; the others replace about 2 %
    of tokens, drop about 2.5 %, upper-case about 3 %, and one in four is
    truncated to 95 %.  About 20 % of members sit on another host than
    their cluster, hosts are Zipf-skewed, about 1/7 of rows carry no
    html, and one cluster in ten gets an exact mirror of its base page on
    another host.  Returns (pages, labels(url, cluster))."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(rng, 4000)
    n_hosts = 200
    rows: list[tuple] = []
    labels: list[tuple[str, int]] = []
    cid = 0
    while len(rows) < n_pages:
        size = int(min(rng.integers(1, 6), rng.integers(1, 6)))
        base = [vocab[i] for i in rng.integers(0, len(vocab), int(rng.integers(30, 120)))]
        host = min(int(rng.zipf(1.6)) - 1, n_hosts - 1)
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        texts: list[tuple[str, int]] = []
        for m in range(size):
            toks = list(base)
            h = host
            if m > 0:
                u = rng.random(len(toks))
                toks = [
                    vocab[int(rng.integers(0, len(vocab)))] if x < 0.02 else t
                    for t, x in zip(toks, u)
                ]
                toks = [t for t in toks if rng.random() >= 0.025]
                toks = [t.upper() if rng.random() < 0.03 else t for t in toks]
                if rng.random() < 0.25:
                    toks = toks[: max(5, len(toks) * 19 // 20)]
                if rng.random() < 0.2:
                    h = int(rng.integers(0, n_hosts))
            texts.append((" ".join(toks), h))
        if rng.random() < 0.1:  # exact mirror of the base page elsewhere
            texts.append((texts[0][0], int(rng.integers(0, n_hosts))))
        for m, (text, h) in enumerate(texts):
            url = f"https://site{h:03d}.example.org/p/{cid}-{m}"
            html = None if rng.random() < 1 / 7 else (HTML_HEAD + text + HTML_TAIL).encode()
            ts = (EPOCH + cid * 37 + m * 3600) * 1_000_000
            rows.append((url, ts, html, text, lang))
            labels.append((url, cid))
        cid += 1
    rows, labels = rows[:n_pages], labels[:n_pages]
    cols = list(zip(*rows))
    pages = pa.table(
        [
            pa.array(cols[0], pa.string()),
            pa.array(cols[1], pa.int64()).cast(pa.timestamp("us", tz="UTC")),
            pa.array(cols[2], pa.binary()),
            pa.array(cols[3], pa.string()),
            pa.array(cols[4], pa.string()),
        ],
        schema=PAGES_SCHEMA,
    )
    lab = pa.table(
        {
            "url": pa.array([u for u, _ in labels], pa.string()),
            "cluster": pa.array([c for _, c in labels], pa.int64()),
        }
    )
    return pages, lab


def shingles(text: str, k: int) -> set[str]:
    """Distinct word k-shingles of lower(text), split on single spaces;
    a non-empty text shorter than k is one shingle (the engine's rule)."""
    toks = [t for t in text.lower().split(" ") if t]
    if not toks:
        return set()
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set, b: set) -> float:
    i = len(a & b)
    return i / (len(a) + len(b) - i) if a or b else 0.0


def documents(
    n_docs: int, seed: int, family_size: int, thresholds: dict[str, tuple[int, float]]
) -> tuple[pa.Table, dict[str, set[tuple[int, int]]]]:
    """Boilerplate template families plus exact clones and unrelated docs.

    Three quarters of the corpus are families of ``family_size``
    members: each member is its family's template with one or two tokens
    replaced, so members share most shingles and their LSH buckets
    overflow.  Of the other docs, one in ten is an exact clone of an
    earlier doc and the rest are unrelated random docs.  ``thresholds`` maps a name to (shingle size k, Jaccard tau);
    for each, the truth is every pair (a < b) whose exact k-shingle
    Jaccard reaches tau.  Only pairs inside a family or clone group can
    qualify: unrelated texts share almost no shingles."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 6000)
    texts: list[str] = []
    group: list[int] = []  # family / clone-group id per doc
    n_fam_docs = n_docs * 3 // 4
    g = 0
    while len(texts) < n_fam_docs:
        tmpl = [vocab[i] for i in rng.choice(len(vocab), int(rng.integers(80, 120)), replace=False)]
        for _ in range(min(family_size, n_fam_docs - len(texts))):
            toks = list(tmpl)
            for p in rng.choice(len(toks), int(rng.integers(1, 3)), replace=False):
                toks[p] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(toks))
            group.append(g)
        g += 1
    while len(texts) < n_docs:
        if texts and rng.random() < 0.1:
            j = int(rng.integers(0, len(texts)))
            texts.append(texts[j])
            group.append(group[j])
        else:
            n = int(rng.integers(40, 120))
            texts.append(" ".join(vocab[i] for i in rng.integers(0, len(vocab), n)))
            group.append(g)
            g += 1
    order = rng.permutation(n_docs)  # families are not contiguous in id order
    texts = [texts[i] for i in order]
    group = [group[i] for i in order]
    members: dict[int, list[int]] = {}
    for doc_id, gid in enumerate(group):
        members.setdefault(gid, []).append(doc_id)
    truth: dict[str, set[tuple[int, int]]] = {}
    for name, (k, tau) in thresholds.items():
        sh = {}
        pairs: set[tuple[int, int]] = set()
        for ids in members.values():
            if len(ids) < 2:
                continue
            for i in ids:
                if i not in sh:
                    sh[i] = shingles(texts[i], k)
            for x, a in enumerate(ids):
                for b in ids[x + 1 :]:
                    if jaccard(sh[a], sh[b]) >= tau:
                        pairs.add((a, b) if a < b else (b, a))
        truth[name] = pairs
    table = pa.table(
        {"doc_id": pa.array(range(n_docs), pa.int64()), "text": pa.array(texts, pa.string())},
        schema=DOCS_SCHEMA,
    )
    return table, truth


def content_hash(table: pa.Table) -> str:
    """sha256 of the table's Arrow IPC stream: the corpus's content."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table.combine_chunks())
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


@dataclass
class Corpus:
    path: str           # parquet file the engine reads
    n_rows: int
    input_bytes: int
    sha256: str
    labels: object      # benchmark-side truth, never handed to the engine


def write_once(path: str, table: pa.Table) -> None:
    """Write ``table`` to ``path`` unless it is already there."""
    if os.path.exists(path):
        return
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
