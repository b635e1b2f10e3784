"""Seeded, fixed-size inputs for the two workloads.

The seed decides only order, ids, file names and which text goes where;
the amount of work is the same for every seed
(``tests/test_perfbench.py`` in this directory pins that). Everything
here is plain Python and pyarrow, so landing the inputs needs no Spark
session.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REFERENCE_CORPUS = os.path.join(REPO_ROOT, "refdata", "reference_corpus.parquet")

WINDOW_WORDS = 300  # words per dedup document
NEAR_DUP_EVERY = 10  # one near-duplicate per this many windows


@dataclass(frozen=True)
class Sizes:
    """Input shape. ``FULL`` is what the benchmark runs; tests use tiny
    ones so a whole run fits in a test's time."""

    index_copies: int = 6  # copies of each reference text in the manifest corpus
    index_texts: int | None = None  # reference texts used (None = all 355)
    dedup_texts: int | None = None  # reference texts cut into windows (None = all)
    dedup_files: int = 8  # parquet files the dedup documents land as


FULL = Sizes()


def reference_texts(limit: int | None = None) -> list[str]:
    """The 355 reference texts in manifest order."""
    texts = pq.read_table(REFERENCE_CORPUS, columns=["text"]).column("text").to_pylist()
    return texts if limit is None else texts[:limit]


def land_index_corpus(out_dir: str, seed: int, sizes: Sizes = FULL) -> dict:
    """Write ``index_copies`` copies of each reference text as one file
    each, plus ``manifest.txt`` (first line N, then N relative paths).

    The seed permutes the manifest order, so doc ids (manifest
    positions) land on different texts, and draws the file names. File
    bytes and counts do not depend on it.
    """
    rng = random.Random(f"index_build:{seed}")
    texts = reference_texts(sizes.index_texts)
    items = [t for t in texts for _ in range(sizes.index_copies)]
    rng.shuffle(items)
    names: set[str] = set()
    while len(names) < len(items):
        names.add(f"doc{rng.getrandbits(48):012x}.txt")
    ordered_names = sorted(names)
    rng.shuffle(ordered_names)
    corpus_dir = os.path.join(out_dir, "corpus")
    os.makedirs(corpus_dir, exist_ok=True)
    total = 0
    for name, text in zip(ordered_names, items):
        data = text.encode("utf-8")
        with open(os.path.join(corpus_dir, name), "wb") as fh:
            fh.write(data)
        total += len(data)
    manifest = os.path.join(out_dir, "manifest.txt")
    with open(manifest, "w", encoding="utf-8") as fh:
        fh.write(f"{len(items)}\n")
        fh.writelines(f"corpus/{n}\n" for n in ordered_names)
    return {
        "manifest": manifest,
        "files": len(items),
        "bytes": total,
        "order": ordered_names,
    }


def dedup_documents(seed: int, sizes: Sizes = FULL) -> list[tuple[int, str]]:
    """(doc_id, text) rows: every non-overlapping ``WINDOW_WORDS``-word
    window of the reference texts, plus one near-duplicate per
    ``NEAR_DUP_EVERY`` windows, each a source window shifted by 1-3
    words.

    Near-duplicate sources are drawn one per block of ``NEAR_DUP_EVERY``
    windows of similar byte length, so total bytes stay within 0.1 %
    across seeds while the seed still picks which windows repeat. Ids
    are a seeded permutation of 1..N.
    """
    rng = random.Random(f"dedup_pipeline:{seed}")
    w = WINDOW_WORDS
    base: list[str] = []
    shiftable: list[tuple[int, list[str]]] = []  # (window bytes, window + 3 words)
    for text in reference_texts(sizes.dedup_texts):
        words = text.split()
        for start in range(0, len(words) - w + 1, w):
            win = words[start : start + w]
            base.append(" ".join(win))
            if start + w + 3 <= len(words):
                shiftable.append((len(base[-1]), words[start : start + w + 3]))
    n_dups = len(base) // NEAR_DUP_EVERY
    shiftable.sort(key=lambda t: t[0])
    block = len(shiftable) // n_dups if n_dups else 0
    dups = []
    for b in range(n_dups):
        _, words = shiftable[b * block + rng.randrange(block)]
        s = rng.randint(1, 3)
        dups.append(" ".join(words[s : s + w]))
    texts = base + dups
    ids = list(range(1, len(texts) + 1))
    rng.shuffle(ids)
    rows = list(zip(ids, texts))
    rng.shuffle(rows)
    return rows


def land_dedup_corpus(out_dir: str, seed: int, sizes: Sizes = FULL) -> dict:
    """Write the dedup documents as ``dedup_files`` parquet files of
    near-equal row counts, so every scan runs that many tasks."""
    rows = dedup_documents(seed, sizes)
    docs_dir = os.path.join(out_dir, "docs")
    os.makedirs(docs_dir, exist_ok=True)
    n = sizes.dedup_files
    for i in range(n):
        part = rows[i::n]
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in part], pa.int64()),
                    "text": pa.array([r[1] for r in part], pa.string()),
                }
            ),
            os.path.join(docs_dir, f"part-{i:05d}.parquet"),
        )
    return {
        "docs_dir": docs_dir,
        "files": n,
        "docs": len(rows),
        "bytes": sum(len(t.encode("utf-8")) for _, t in rows),
        "order": [r[0] for r in rows],
    }
