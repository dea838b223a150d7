"""Character-trigram tokenization.

Semantics re-expressed from the reference (lib/tokenizer/tokenizer.go:9-33,
golden cases lib/tokenizer/tokenizer_test.go:14-23):

- sliding window of N=3 *characters* (codepoints, multibyte-safe),
  stride 1; inputs shorter than N tokenize to [].
- a token's position is its index in the token sequence, which (at
  stride 1 over every offset) equals the character offset of the
  window start (ref lib/indexer/indexer.go:88-89).

Two implementations:

- :func:`tokenize` — pure Python, the golden/oracle version.
- :func:`trigrams_col` — a JVM-side Spark SQL expression
  (sequence+transform+substring), so the hot indexing path runs fully
  inside whole-stage codegen with NO Python at all; tests prove it
  agrees with :func:`tokenize` row by row.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from searty_spark import NGRAM_N


def tokenize(text: str, n: int = NGRAM_N) -> list[str]:
    """Pure-Python golden tokenizer (character n-grams, stride 1)."""
    if len(text) < n:
        return []
    return [text[i : i + n] for i in range(len(text) - n + 1)]


def trigrams_col(text: Column | str, n: int = NGRAM_N) -> Column:
    """array<string> of character n-grams of ``text`` — pure Spark SQL.

    Fast path (r7): ONE regexp_extract_all per document — a zero-width
    lookahead ``(?s)(?=(.{n}))`` captures the n-gram starting at every
    position, so all overlapping windows extract in a single linear
    scan instead of one substr() call per window (measured 6x on the
    sf1.0 tokenize explode; rows identical, golden-tested). Java's
    regex bump-along advances by UTF-16 code UNIT, so a document
    containing supplementary-plane characters (surrogate pairs: emoji,
    rare CJK) would grow extra mid-surrogate windows — those rows (and
    only those) take the original substr ladder, which counts code
    points exactly like the reference's rune iteration. BMP multibyte
    (accents, CJK) is code-point == code-unit and stays on the fast
    path. The per-row dispatch is one character-class rlike.
    """
    c = F.col(text) if isinstance(text, str) else text
    slow = F.when(
        F.char_length(c) >= F.lit(n),
        F.transform(
            F.sequence(F.lit(1), F.char_length(c) - F.lit(n - 1)),
            lambda i: c.substr(i, F.lit(n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    fast = F.regexp_extract_all(c, F.lit(r"(?s)(?=(.{%d}))" % n), F.lit(1))
    # coalesce pins the NULL-text result to [] exactly like the substr
    # ladder's otherwise-branch did
    return F.when(c.rlike(r"[\x{10000}-\x{10FFFF}]"), slow).otherwise(
        F.coalesce(fast, F.array().cast("array<string>"))
    )
