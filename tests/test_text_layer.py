"""The text layer (``operators/text.py``): each normalization's Spark and
DuckDB spellings agree, and nothing else in the engine spells one.

The dialect cases run both engines on the same inputs. The escape case
(a run of the letter s) is the one that catches a ``'\\s+'`` written
with the other dialect's escaping. The two inputs the engines still
split on (a vertical tab, a dotted capital I) are pinned as strict
xfails, so a change in either engine shows up here.
"""

import ast
import re
from pathlib import Path

import duckdb
import pytest

from pdf_metadata_extraction_spark.operators import text

ROOT = Path(__file__).resolve().parents[1]

CASES = {
    "tabs": "a\tb\t\tc",
    "newlines": "a\nb\n\nc",
    "cr": "a\r\nb\rc",
    "form_feed": "a\fb",
    "s_runs": "A\tb  C\nsss d ss",
    "edges": "  --Hello, World!--  ",
    "digits": "abc123 4x5 007",
    "empty": "",
    "null": None,
    "vertical_tab": "a\x0bb",
    "dotted_capital_i": "İSS iss",
}

KNOWN = {
    ("fold", "vertical_tab"):
        "Java's \\s matches U+000B and RE2's does not: only Spark folds it",
    ("fold", "dotted_capital_i"):
        "Java lower-cases U+0130 to i plus a combining dot; DuckDB to i",
    ("words", "dotted_capital_i"):
        "Java lower-cases U+0130 to i plus a combining dot, which splits "
        "the word; DuckDB keeps 'iss' whole",
}


@pytest.fixture(scope="module")
def both(spark):
    """{case: {definition: (spark value, duckdb value)}}."""
    rows = list(CASES.items())
    sp = {
        r["k"]: r
        for r in spark.createDataFrame(rows, "k string, text string")
        .select("k", text.words().alias("words"), text.fold().alias("fold"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(k VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    dk = {
        k: (w, f)
        for k, w, f in con.execute(
            f"SELECT k, {text.duck_words()}, {text.duck_fold()} FROM t"
        ).fetchall()
    }
    return {
        k: {"words": (sp[k]["words"], dk[k][0]), "fold": (sp[k]["fold"], dk[k][1])}
        for k in CASES
    }


@pytest.mark.parametrize(
    "definition,case",
    [
        pytest.param(
            d, k,
            marks=[pytest.mark.xfail(strict=True, reason=KNOWN[d, k])]
            if (d, k) in KNOWN else [],
        )
        for d in ("words", "fold")
        for k in CASES
    ],
)
def test_spark_and_duckdb_spellings_agree(both, definition, case):
    spark_value, duck_value = both[case][definition]
    assert spark_value == duck_value


# ------------------------------------------------ lambda-free spellings

# The lambda spellings the text layer replaced, kept only here, as the
# reference each new spelling must equal.
OLD_WORDS = "filter(split(lower({t}), '[^a-z0-9]+'), x -> x != '')"
OLD_SHINGLES = (
    "transform(sequence(1, greatest(length({t}) - {m}, 1)), i -> substr({t}, i, {n}))"
)
OLD_NGRAMS = (
    "CASE WHEN size({w}) >= {n} THEN transform(sequence(1, size({w}) - {m}),"
    " i -> array_join(slice({w}, i, {n}), ' ')) ELSE array() END"
)
OLD_TF = "size(filter({w}, x -> x = '{term}'))"
NEW_TF = "size({w}) - size(array_remove({w}, '{term}'))"

SMILE = "\U0001f642"  # outside the BMP: two UTF-16 units, one code point
EDGE_TEXTS = [
    None, "", "a", "ab", "abc", "abcd", "a b", "a b c", "a b c d",
    "spark spark window spark", "Spark, SPARK! spark-window",
    "éte café x",  # combining acute accents
    f"a{SMILE}bc", SMILE * 4, f"x{SMILE}", "\U00010348\U00010348 gothic",
    "a b\u0085c  d\n", "  --Hello, World!--  ", "İSS iss",
]


@pytest.fixture(scope="module")
def edge_frame(spark):
    return spark.createDataFrame(list(enumerate(EDGE_TEXTS)), "i int, t string")


def _pairs(frame, old: str, new: str) -> list[tuple]:
    """(t, old value, new value) per row of ``frame``, in ``i`` order."""
    rows = frame.selectExpr("i", "t", f"{old} AS o", f"{new} AS n").orderBy("i")
    return [(r["t"], r["o"], r["n"]) for r in rows.collect()]


def test_words_equal_the_filter_lambda_spelling(edge_frame):
    for t, old, new in _pairs(edge_frame, OLD_WORDS.format(t="t"), text.WORDS.format(t="t")):
        assert old == new, t


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_shingles_equal_the_substr_lambda_spelling(edge_frame, n):
    """Over raw and folded text. Shingles count code points: the
    lookahead must not start one on the low half of a surrogate pair."""
    old = OLD_SHINGLES.format(t="t", n=n, m=n - 1)
    new = text.SHINGLES.format(t="t", n=n)
    folded = edge_frame.select("i", text.fold("t").alias("t"))
    for frame in (edge_frame, folded):
        for t, o, s in _pairs(frame, old, new):
            assert o == s, t
    got = {t: s for t, _, s in _pairs(edge_frame, old, new)}
    assert got[f"a{SMILE}bc"] == {
        1: ["a", SMILE, "b", "c"],
        2: [f"a{SMILE}", f"{SMILE}b", "bc"],
        3: [f"a{SMILE}b", f"{SMILE}bc"],
        5: [f"a{SMILE}bc"],
    }[n]
    assert got[None] == [None] and got[""] == [""]


@pytest.mark.parametrize("n", [1, 2, 3, 4, 7])
def test_word_ngrams_equal_the_slice_lambda_spelling(spark, edge_frame, n):
    """Word arrays of n - 1, n and more words, repeated words, an empty
    array and a null one."""
    made = spark.createDataFrame(
        [(100 + k, [f"w{j % 3}" for j in range(k)]) for k in (n - 1, n, n + 1, 9)],
        "i int, t array<string>",
    )
    frame = edge_frame.select("i", text.words("t").alias("t")).unionByName(made)
    old = OLD_NGRAMS.format(w="t", n=n, m=n - 1)
    for t, o, g in _pairs(frame, old, text.NGRAMS.format(w="t", m=n - 1)):
        assert o == g, t


def test_term_counts_equal_the_filter_lambda_spelling(edge_frame):
    frame = edge_frame.select("i", text.words("t").alias("t"))
    for term in ("spark", "window", "a", "zzz"):
        pairs = _pairs(frame, OLD_TF.format(w="t", term=term), NEW_TF.format(w="t", term=term))
        for t, old, new in pairs:
            assert old == new, (t, term)


def test_spellings_match_the_python_reading(both):
    """Anchor both engines to the intended definitions on the plain
    ASCII cases, so the two cannot agree on a shared mistake."""
    for k, s in CASES.items():
        if s is None or ("words", k) in KNOWN or ("fold", k) in KNOWN:
            continue
        assert both[k]["words"][0] == [w for w in re.split(r"[^a-z0-9]+", s.lower()) if w]
        assert both[k]["fold"][0] == re.sub(r"\s+", " ", s).lower()


# ---------------------------------------------------------------- guard

_TOKENIZER = "[^a-z0-9]+"
# a '\s+' -> ' ' fold in SQL text, in either dialect's escaping
_SQL_FOLD = re.compile(r"'\\{1,2}s\+'\s*,\s*' '")
# a char shingle or a word n-gram in SQL text: a walk over
# sequence(1, greatest(length(t) ...)) or sequence(1, size(w) ...), or
# a lookahead capture like the text layer's
_SQL_PIECES = re.compile(r"sequence\(1,\s*(greatest\(length|size)\(|\(\?=\(")


def _spellings(path: Path) -> list[int]:
    """Lines of ``path`` whose code spells the tokenizer, the fold, the
    char shingle or the word n-gram: a string constant holding the
    tokenizer regex, a SQL fold or a SQL shingle or n-gram walk, or a
    ``regexp_replace(x, '\\s+', ' ')`` call."""
    lines = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            v = node.value
            if _TOKENIZER in v or _SQL_FOLD.search(v) or _SQL_PIECES.search(v):
                lines.append(node.lineno)
        elif isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            args = [a.value if isinstance(a, ast.Constant) else None for a in node.args]
            if name == "regexp_replace" and args[1:3] == [r"\s+", " "]:
                lines.append(node.lineno)
    return sorted(set(lines))


def test_only_the_text_layer_spells_the_normalizations():
    own = ROOT / "pdf_metadata_extraction_spark" / "operators" / "text.py"
    files = [ROOT / "__spark_entry__.py", *(ROOT / "pdf_metadata_extraction_spark").rglob("*.py")]
    found = [
        f"{p.relative_to(ROOT)}:{n}"
        for p in sorted(files) if p != own
        for n in _spellings(p)
    ]
    assert not found, (
        "spell the word tokenizer and the whitespace fold through "
        "operators/text.py: " + ", ".join(found)
    )


def test_guard_tells_the_fold_from_other_whitespace_normalizations(tmp_path):
    p = tmp_path / "m.py"
    p.write_text(
        "F.regexp_replace(t, r'\\s+', '')\n"           # whitespace strip
        "F.split(t, r'\\s+')\n"                        # whitespace split
        "F.split(F.lower(t), '[^a-z]+')\n"             # frequent_words
        "sql = \"regexp_replace(text, '\\\\s+', '', 'g')\"\n"
        "F.regexp_replace(t, r'\\s+', ' ')\n"          # fold: line 5
        "sql = \"lower(regexp_replace(t, '\\\\s+', ' ', 'g'))\"\n"  # line 6
        "sql = \"split(lower(t), '[^a-z0-9]+')\"\n"    # line 7
        "sql = \"array_remove(split(lower(t), '[^a-z0-9]+'), '')\"\n"  # 8
        "F.expr(f'transform(sequence(1, greatest(length(_t) - {n}, 1)),'\n"  # 9
        "       f' i -> substr(_t, i, {n}))')\n"
        "sql = 'transform(sequence(1, size(w) - 3), i -> array_join(slice(w, i, 4), \" \"))'\n"
        "sql = \"regexp_extract_all(t, '(?s)(?=(.{3}))', 1)\"\n"  # line 12
        "sql = \"regexp_extract_all(t, '([a-z]+)', 1)\"\n"  # a plain capture
        "F.slice(w, 1, 3)\n"
        "sql = 'transform(sequence(1, (size(w) + 11) div 12), i -> slice(w, i, 12))'\n"
        "F.sequence(F.col('start'), F.col('start') + 6)\n"
    )
    assert _spellings(p) == [5, 6, 7, 8, 9, 11, 12]
