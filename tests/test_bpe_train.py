"""Distributed BPE training: Spark vs an independent Python trainer.

The DuckDB oracle parity (training rounds AND learned-table tokenize)
is covered by test_gate_parity (bpe_train); here bpe_train_merges is
checked against a from-scratch Sennrich-2016 trainer over seeded random
corpora (small alphabets force heavy pair-count ties, exercising the
lexicographic-max tie-break), plus the dried-vocabulary edge.
"""

from __future__ import annotations

import random
from collections import Counter

import pytest

from nlp_lib_spark.operators.bpe import (bpe_token_counts_learned,
                                         bpe_train_merges, bpe_word)


def _py_train(freq: dict[str, int], n_merges: int) -> list[tuple[str, str]]:
    vocab: dict[tuple[str, ...], int] = {}
    for w, n in freq.items():
        vocab[tuple(w)] = vocab.get(tuple(w), 0) + n
    merges = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += n
        if not pairs:
            break
        best = max(pairs.items(), key=lambda kv: (kv[1], kv[0]))[0]
        merges.append(best)
        new: dict[tuple[str, ...], int] = {}
        for syms, n in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i < len(syms) - 1 and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[tuple(out)] = new.get(tuple(out), 0) + n
        vocab = new
    return merges


def _corpus(seed: int, n_docs: int, alphabet: str) -> list[tuple[int, str]]:
    rng = random.Random(seed)
    docs = []
    for i in range(n_docs):
        words = [
            "".join(rng.choice(alphabet)
                    for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(0, 10))
        ]
        docs.append((i, " ".join(words)))
    return docs


@pytest.mark.parametrize("seed,alphabet", [
    (5, "ab"),            # tiny alphabet: maximal tie pressure
    (17, "abc"),
    (29, "abcdefgh"),
    (31, "a\nb'c"),       # newline + quote inside symbols
])
def test_bpe_train_matches_python_trainer(spark, seed, alphabet):
    docs = _corpus(seed, 40, alphabet)
    freq = Counter(w for _, t in docs for w in t.split(" ") if w)
    expected = _py_train(dict(freq), 8)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = bpe_train_merges(df, n_merges=8)
    assert got == expected


def test_bpe_train_dries_up_early(spark):
    # single-character words only: zero adjacent pairs, training stops
    df = spark.createDataFrame([(0, "a b c"), (1, "a a b")],
                               "doc_id long, text string")
    assert bpe_train_merges(df, n_merges=4) == []


def test_bpe_train_frees_its_checkpoints(spark):
    """Every round's vocabulary localCheckpoint is freed by the time the
    merge list returns (DataFrame.unpersist cannot free them)."""
    from nlp_lib_spark.operators.canonicalize import _persistent_ids
    sc = spark.sparkContext
    df = spark.createDataFrame(_corpus(17, 40, "abc"),
                               "doc_id long, text string")
    before = _persistent_ids(sc)
    assert len(bpe_train_merges(df, n_merges=4)) == 4
    assert _persistent_ids(sc) == before


def test_learned_table_tokenizes_docs(spark):
    docs = _corpus(7, 30, "abcd")
    df = spark.createDataFrame(docs, "doc_id long, text string")
    merges = bpe_train_merges(df, n_merges=6)
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    rows = bpe_token_counts_learned(df, merges).collect()
    got = {r.doc_id: r.n_bpe_tokens for r in rows}
    import hashlib
    for i, t in docs:
        toks = [s for w in t.split(" ") if w for s in bpe_word(w, ranks)]
        if not toks:
            assert i not in got
            continue
        assert got[i] == len(toks)
        md5 = hashlib.md5(" ".join(toks).encode()).hexdigest()
        assert {r.doc_id: r.bpe_md5 for r in rows}[i] == md5
