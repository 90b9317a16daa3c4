r"""The engine's text normalizations, each defined once per dialect, and
the two ways it cuts text into overlapping pieces.

- **Word tokenizer**: lower-case, split on every run of characters
  outside ``a-z0-9``, drop the empty words a leading or trailing
  separator leaves.
- **Whitespace fold**: every run of whitespace becomes one space, then
  the text is lower-cased.
- **Char shingles**: the ``n``-code-point substrings of a text at every
  start position, in order; a text shorter than ``n`` is its own one
  shingle (``''`` included), a null text gives ``[null]``.
- **Word n-grams**: the space-joined runs of ``n`` consecutive words of
  a word array, in order; fewer than ``n`` words (or a null array) give
  ``[]``.

The tokenizer and the fold have a Spark SQL spelling, which operators
use through ``F.expr`` (``words``, ``fold``) or format into larger SQL
text (``WORDS``), and a DuckDB spelling, which the oracles in
``__spark_entry__`` format in (``duck_words``, ``duck_fold``). The
shingle and the n-gram are Spark only (``shingles``, ``word_ngrams``;
``SHINGLES``, ``NGRAMS``); each oracle spells its own index loop.
``{t}`` in a template is a SQL expression, usually a column name. The
pairs differ where the dialects do:

- Spark ``array_remove(split(...), '')`` against DuckDB
  ``list_filter(regexp_split_to_array(...), w -> w <> '')``;
- Spark's ``regexp_replace`` replaces every match, DuckDB's only the
  first unless given the ``'g'`` option.

No Spark spelling here holds a lambda: a higher-order function
(``filter``, ``transform``) runs its lambda interpreted, once per array
element, where these builtins run in generated code. The shingle and
the n-gram are one ``regexp_extract_all`` each, a lookahead that matches
empty at every start position and captures the piece ahead. Java's
``Matcher.find`` steps one UTF-16 unit past an empty match, so the
shingle's ``(?!\p{Cs})`` keeps it from starting on the low half of a
surrogate pair; ``substr`` counts code points, and so do the shingles.
The n-gram pattern starts only after a space or at the start, and a
word never holds a space.

Escape rule: Spark SQL un-escapes backslashes inside string literals, so
the whitespace class is ``'\\s+'`` in Spark text (``'\s+'`` reaches the
regex as ``s+`` and folds runs of the letter s instead). DuckDB keeps a
literal as written, so there it is ``'\s+'`` (``'\\s+'`` would match a
backslash followed by s's).

Two inputs still split the engines; ``tests/test_text_layer.py`` pins
both:

- vertical tab (U+000B) is ``\s`` in Java's regex but not in RE2, so
  only Spark folds it;
- Java lower-cases ``İ`` (U+0130) to ``i`` plus a combining dot, so
  Spark splits ``İSS`` into ``['i', 'ss']`` where DuckDB gives
  ``['iss']``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WORDS = "array_remove(split(lower({t}), '[^a-z0-9]+'), '')"
FOLD = r"lower(regexp_replace({t}, '\\s+', ' '))"
SHINGLES = (
    "CASE WHEN length({t}) >= {n} THEN"
    r" regexp_extract_all({t}, '(?s)(?!\\p{{Cs}})(?=(.{{{n}}}))', 1)"
    " ELSE array({t}) END"
)
NGRAMS = (
    "coalesce(regexp_extract_all(array_join({w}, ' '),"
    " '(?<![^ ])(?=([^ ]+(?: [^ ]+){{{m}}}))', 1), array())"
)

DUCK_WORDS = (
    "list_filter(regexp_split_to_array(lower({t}), '[^a-z0-9]+'), w -> w <> '')"
)
DUCK_FOLD = r"lower(regexp_replace({t}, '\s+', ' ', 'g'))"


def words(t: str = "text") -> Column:
    """The word array of ``t`` (Spark)."""
    return F.expr(WORDS.format(t=t))


def fold(t: str = "text") -> Column:
    """The whitespace fold of ``t`` (Spark)."""
    return F.expr(FOLD.format(t=t))


def shingles(t: str, n: int) -> Column:
    """The char ``n``-shingles of the SQL expression ``t`` (Spark)."""
    return F.expr(SHINGLES.format(t=t, n=n))


def word_ngrams(w: str, n: int) -> Column:
    """The word ``n``-grams of the word array ``w`` (Spark)."""
    return F.expr(NGRAMS.format(w=w, m=n - 1))


def duck_words(t: str = "text") -> str:
    """The word array of ``t`` (DuckDB SQL)."""
    return DUCK_WORDS.format(t=t)


def duck_fold(t: str = "text") -> str:
    """The whitespace fold of ``t`` (DuckDB SQL)."""
    return DUCK_FOLD.format(t=t)
