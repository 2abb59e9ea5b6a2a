"""The word n-gram relation and the portable md5 hash, shared by the
dedup, novelty, decontamination and overlap operators.

Every shingle-based operator and its DuckDB oracle agree on one
definition: split ``text`` on single spaces (consecutive spaces give
empty tokens), join each run of ``n`` consecutive tokens with one
space, keep each distinct n-gram once per row; a row with fewer than
``n`` tokens (or a null ``text``) yields none. The oracles spell it
``t[i] || ' ' || … FROM UNNEST(GENERATE_SERIES(1, LEN(t) - n + 1))``.

This module registers no query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_ngrams(docs: DataFrame, n: int, *keys: str) -> DataFrame:
    """(*keys, gram): the distinct word n-grams of each row's ``text``.

    Map-side only: one ``array_distinct`` per row, then an explode — no
    shuffle. The n-grams are distinct per input row, so the relation is
    distinct per key when the keys identify a row (``doc_id``); under a
    coarser key (``source``) a caller that counts n-grams adds its own
    ``.distinct()``."""
    gram = ", ' ', ".join(
        "element_at(p, i)" if k == 0 else f"element_at(p, i + {k})"
        for k in range(n)
    )
    grams = F.expr(
        f"transform(sequence(1, size(p) - {n - 1}), i -> concat({gram}))"
    )
    return (
        docs.select(*keys, F.split("text", " ").alias("p"))
        .filter(F.size("p") >= n)
        .select(*keys, F.explode(F.array_distinct(grams)).alias("gram"))
    )


def md5_hash60(c: Column | str) -> Column:
    """The portable 60-bit hash of a string: its md5's first 15 hex
    digits as a BIGINT. DuckDB spells it
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``, so every engine
    derives the same integer (Spark's xxhash64 has no twin there)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")
