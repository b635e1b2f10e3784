"""Differential tests of the tokenizer contract (split on space/tab/
newline, keep ASCII letters lowercased, drop empties, distinct per doc —
reference src/tema1.cpp:88-99,142-166), over a seeded random corpus that
stresses edge shapes the parquet fixtures don't contain: the Spark
pipeline vs an independent pure-Python implementation, and the Arrow
kernels' tokenizer (``kernels.ascii_words``) vs the JVM word arrays."""

from __future__ import annotations

import hashlib
import random
import string

from parallel_map_reduce_spark.kernels import Md5Memo, ascii_words, md5_hex, md5_u32
from parallel_map_reduce_spark.operators.dedup import clean_words_array
from parallel_map_reduce_spark.operators.tokenize import doc_word_pairs


def _python_reference(text: str) -> set[str]:
    words = set()
    for tok in text.replace("\n", " ").replace("\t", " ").split(" "):
        w = "".join(ch.lower() for ch in tok if ch.isalpha() and ch.isascii())
        if w:
            words.add(w)
    return words


def _random_corpus(n_docs: int, seed: int = 1234) -> list[tuple[int, str]]:
    rng = random.Random(seed)
    # U+0130 and the Kelvin sign U+212A lowercase to ASCII letters;
    # \r, \x0b and U+00A0 are whitespace that is NOT a separator.
    alphabet = (
        string.ascii_letters
        + string.digits
        + "  \t\n"
        + "'-,.!?:;()[]"
        + "éüñ中文🎉"
        + "\u0130\u212a\r\x0b\u00a0"
    )
    docs = []
    for i in range(n_docs):
        n = rng.randint(0, 400)
        docs.append((i + 1, "".join(rng.choice(alphabet) for _ in range(n))))
    # deliberate edge shapes
    docs += [
        (n_docs + 1, ""),
        (n_docs + 2, "   \t\n  "),
        (n_docs + 3, "123 456 !!!"),
        (n_docs + 4, "don't well-known Hello, WORLD"),
        (n_docs + 5, "a" * 5000),
        (n_docs + 6, "x y " * 500),
        (n_docs + 7, "\u0130stanbul \u212aelvin a\rb c\x0bd e\u00a0f"),
    ]
    return docs


def test_tokenizer_matches_python_reference(spark):
    docs = _random_corpus(200)
    sdf = spark.createDataFrame(docs, schema="doc_id LONG, text STRING")
    got: dict[int, set[str]] = {}
    for r in doc_word_pairs(sdf).collect():
        got.setdefault(r.doc_id, set()).add(r.word)
    for doc_id, text in docs:
        want = _python_reference(text)
        assert got.get(doc_id, set()) == want, f"doc {doc_id}: {text[:60]!r}"


def test_kernel_tokenizer_matches_jvm_words(spark):
    docs = _random_corpus(200)
    sdf = spark.createDataFrame(docs, schema="doc_id LONG, text STRING")
    got = {r.doc_id: list(r.words) for r in clean_words_array(sdf).collect()}
    for doc_id, text in docs:
        assert ascii_words(text) == got[doc_id], f"doc {doc_id}: {text[:60]!r}"


def test_md5_memo_is_capped_and_exact():
    keys = [f"gram {i}" for i in range(10)]
    want = [hashlib.md5(k.encode("utf-8")).hexdigest() for k in keys]
    memo = Md5Memo(md5_hex)
    memo.cap = 3
    assert memo(keys) == want
    assert len(memo) == 3
    assert memo(reversed(keys)) == want[::-1]
    assert len(memo) == 3
    assert [md5_u32(k) for k in keys] == [int(h[:8], 16) for h in want]
