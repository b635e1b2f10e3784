"""Shared core of the ``mapInArrow`` kernels.

The text kernels (minhash signatures, sized shingles, repeated-substring
grams, winnowing) and the nearest-centroid kernels (IVF assignment,
Lloyd partial sums) are closures shipped to Python workers. Everything
they share lives here, so the token contract and the hash derivations
are written once. Each result is exactly what the JVM expression it
replaces computes:

- **Tokens.** The JVM path (``operators/tokenize.py``) splits on
  ``TOKEN_SPLIT_REGEX``, then strips ``NON_ALPHA_REGEX`` from each token
  and lowercases it. ``ascii_words`` strips ``[^A-Za-z \\t\\n]`` from the
  whole text first, then lowercases and splits. The strip never touches
  a separator, so token boundaries are unchanged, and a token that
  strips to nothing becomes a separator run that the split drops, as
  the JVM filter drops the empty word. Lowering after the strip only
  ever sees ASCII letters. Lowering first would let Unicode case
  mapping mint ASCII letters that the JVM order deletes (the Kelvin
  sign U+212A lowers to ``k``; U+0130 lowers to ``i`` plus a combining
  dot).
- **Shingles.** k consecutive words joined with one space, byte-equal
  to ``array_join(slice(words, i, k), ' ')``.
- **md5 integers.** ``md5_u32`` is the first four digest bytes read
  big-endian, which is the integer ``functions.hashing.md5_i32``
  (``conv(substring(md5(s), 1, 8), 16, 10)``) computes from the first
  eight hex digits. ``md5_hex`` is the
  full hex digest, as ``md5(s)``. Strings are hashed as UTF-8, as the
  JVM does.
- **Memo.** ``Md5Memo`` holds at most ``MEMO_CAP`` keys per task. Past
  the cap a new key is hashed and returned but not stored, so the cap
  bounds task memory and never changes a value.
- **Centroid scores.** ``nearest_centroid`` accumulates the dot product
  one dimension at a time, the left-to-right order of the ``dot`` fold,
  so the doubles are bit-identical. ``np.argmax`` takes the first
  maximum over cid-ascending columns, which is ``max_by``'s
  ``(c_cos, -centroid_id)`` tie-break; a NaN column (zero norm) is the
  greatest under both orders, and both pick the lowest such cid.

This module is pickled by value, so workers need no import of the
package and the kernels run from any working directory.
"""

from __future__ import annotations

import hashlib
import re
import sys

import numpy as np
from pyspark import cloudpickle

# Split contract: ONLY space / tab / newline (reference src/tema1.cpp:144).
TOKEN_SPLIT_REGEX = "[ \t\n]+"
# Normalize contract: strip non-ASCII-letters, lowercase (src/tema1.cpp:88-99).
NON_ALPHA_REGEX = "[^A-Za-z]"

_SPLIT_RE = re.compile(TOKEN_SPLIT_REGEX)
# NON_ALPHA_REGEX with the separators kept, for the whole-text strip.
_STRIP_RE = re.compile("[^A-Za-z \t\n]")

MEMO_CAP = 4_000_000


def ascii_words(text: str | None) -> list[str]:
    """Cleaned tokens of ``text`` in document order, empties dropped."""
    if not text:
        return []
    return [w for w in _SPLIT_RE.split(_STRIP_RE.sub("", text).lower()) if w]


def word_shingles(words: list[str], k: int) -> list[str]:
    """Positional k-word shingles; empty when there are fewer than k words."""
    return [" ".join(words[i : i + k]) for i in range(len(words) - k + 1)]


def shingle_set(words: list[str], k: int) -> set[str]:
    """The distinct k-word shingles of one document."""
    return set(word_shingles(words, k))


def md5_hex(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def md5_u32(s: str) -> int:
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:4], "big")


class Md5Memo:
    """Per-task memo of ``digest(key)`` for string keys, capped at
    ``cap`` entries. Calling it with a collection returns the digests in
    the collection's order."""

    cap = MEMO_CAP

    def __init__(self, digest):
        self._digest = digest
        self._memo: dict[str, object] = {}

    def __len__(self) -> int:
        return len(self._memo)

    def __call__(self, keys) -> list:
        memo, digest, cap = self._memo, self._digest, self.cap
        out = []
        for key in keys:
            v = memo.get(key)
            if v is None:
                v = digest(key)
                if len(memo) < cap:
                    memo[key] = v
            out.append(v)
        return out


def centroid_arrays(cent_rows):
    """(cids, cmat, cnrm) from cid-ascending (cid, vector, norm) rows."""
    cids = np.array([c[0] for c in cent_rows], dtype=np.int32)
    cmat = np.array([c[1] for c in cent_rows], dtype=np.float64)
    cnrm = np.array([c[2] for c in cent_rows], dtype=np.float64)
    return cids, cmat, cnrm


def nearest_centroid(batch, cmat, cnrm):
    """(embs, best): the batch's ``embedding`` column as a float64
    matrix and, per row, the column index of its nearest centroid by
    cosine (``nrm`` is the row's norm)."""
    embs = np.stack(
        batch.column("embedding").to_numpy(zero_copy_only=False)
    ).astype(np.float64)
    nrm = batch.column("nrm").to_numpy()
    acc = np.zeros((len(embs), len(cmat)))
    for i in range(embs.shape[1]):  # sequential: matches the fold
        acc = acc + embs[:, i : i + 1] * cmat[:, i]
    cos = acc / (nrm[:, None] * cnrm[None, :])
    return embs, np.argmax(cos, axis=1)


cloudpickle.register_pickle_by_value(sys.modules[__name__])
