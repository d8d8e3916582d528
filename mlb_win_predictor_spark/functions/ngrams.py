"""Shared word-n-gram expression builders.

One guarded, optimized implementation for every consumer — the text
query family (``queries/text.py``), the MinHash/containment shingle
builders (``operators/dedup.py``), and the streaming decontamination
gates (``streaming/jobs.py``). They are shared because copies drift: the
short-doc guard and the element_at 4x optimization each had to be
hand-mirrored across two copies of the gram builder before it was
hoisted here, and the hashed gram set had eight copies.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def word_ngrams(toks, n: int):
    """Map-side word n-gram array via transform over an index sequence —
    no explode, no shuffle. ``toks`` MUST be a materialized array column
    (its own projection step), never an inline split() expression:
    higher-order functions run interpreted, so an inline subexpression
    referenced in the lambda is re-evaluated PER ELEMENT (~25x slower,
    measured at sf0.1). Empty when the doc has fewer than ``n`` tokens
    (sequence() would otherwise count DOWN for start > stop).

    The gram itself is ``concat_ws`` over ``n`` fixed ``element_at``
    probes, NOT ``array_join(slice(...))``: slice allocates an n-element
    array per gram inside the interpreted lambda, and the A/B at sf0.1
    measures it ~4x slower (bigram build 4.0s -> 1.1s) — same value,
    direct probes, no per-gram allocation. ``n`` is a plan-time Python
    int, so the probe list unrolls statically."""
    cnt = F.size(toks)
    return F.when(
        cnt >= n,
        F.transform(
            F.sequence(F.lit(1), cnt - n + 1),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def hashed_gram_set(grams):
    """The distinct 64-bit xxhash64 values of a gram array — the gram
    set every decontamination, doc-frequency and shingle-join consumer
    explodes or sorts. Hashing before the explode makes every downstream
    key a fixed-width long instead of a ~50-byte string (set sizes and
    overlaps unchanged w.h.p., collisions ~ n²/2⁶⁴), and ``array_distinct``
    runs map-side, so no dedup shuffle follows. ``grams`` is either a
    staged gram column or an inline ``word_ngrams`` expression; the
    caller picks the staging (see ``word_ngrams``)."""
    return F.array_distinct(F.transform(grams, lambda g: F.xxhash64(g)))
