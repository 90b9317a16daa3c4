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


def _spellings(path: Path) -> list[int]:
    """Lines of ``path`` whose code spells the tokenizer or the fold:
    a string constant holding the tokenizer regex or a SQL fold, or a
    ``regexp_replace(x, '\\s+', ' ')`` call."""
    lines = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            if _TOKENIZER in node.value or _SQL_FOLD.search(node.value):
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
    )
    assert _spellings(p) == [5, 6, 7]
