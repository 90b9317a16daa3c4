r"""The engine's two text normalizations, each defined once per dialect.

- **Word tokenizer**: lower-case, split on every run of characters
  outside ``a-z0-9``, drop the empty words a leading or trailing
  separator leaves.
- **Whitespace fold**: every run of whitespace becomes one space, then
  the text is lower-cased.

Each has a Spark SQL spelling, which operators use through ``F.expr``
(``words``, ``fold``) or format into larger SQL text (``WORDS``), and a
DuckDB spelling, which the oracles in ``__spark_entry__`` format in
(``duck_words``, ``duck_fold``). ``{t}`` in a template is a SQL
expression, usually a column name. The pairs differ where the dialects
do:

- Spark ``filter(split(...), x -> x != '')`` against DuckDB
  ``list_filter(regexp_split_to_array(...), w -> w <> '')``;
- Spark's ``regexp_replace`` replaces every match, DuckDB's only the
  first unless given the ``'g'`` option.

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

WORDS = "filter(split(lower({t}), '[^a-z0-9]+'), x -> x != '')"
FOLD = r"lower(regexp_replace({t}, '\\s+', ' '))"

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


def duck_words(t: str = "text") -> str:
    """The word array of ``t`` (DuckDB SQL)."""
    return DUCK_WORDS.format(t=t)


def duck_fold(t: str = "text") -> str:
    """The whitespace fold of ``t`` (DuckDB SQL)."""
    return DUCK_FOLD.format(t=t)
