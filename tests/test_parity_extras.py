"""Parity tests for F2 valid-pages filter, S8 model store + D3 TTL,
S4 table IO, and the streaming availableNow dispatch."""

import os
import time

import pytest

from pdf_metadata_extraction_spark.operators.pages_filter import page_range_stats
from pdf_metadata_extraction_spark.schemas import LABELS


def _label(spark, url, pages):
    boxes = [
        dict(left=10.0, top=10.0, width=5.0, height=5.0, page_width=612.0,
             page_height=792.0, page_number=p, segment_type=None)
        for p in pages
    ]
    return spark.createDataFrame(
        [dict(run_name="r", extraction_name="e", url=url, language_iso="en",
              label_text="x", values=None, source_text=None, entity_name=None,
              page_width=612.0, page_height=792.0, xml_segments_boxes=[],
              label_segments_boxes=boxes)],
        LABELS,
    )


def test_valid_pages_filter_prediction(spark):
    labels = _label(spark, "u1", [3, 7])
    stats = page_range_stats(labels)
    assert stats == (2, 8)
    # no boxes → no filter (degenerate ok)
    empty = _label(spark, "u2", [])
    assert page_range_stats(empty) is None


def test_model_store_roundtrip_and_ttl(tmp_path):
    from pdf_metadata_extraction_spark.plans.model_store import (
        MODEL_NOT_FOUND, cleanup_stale_models, load_model, save_model,
    )
    from pdf_metadata_extraction_spark.plans.pipeline import ExtractionModel

    root = str(tmp_path / "models")
    m = ExtractionModel(run_name="r", extraction_name="e", kind="text_to_text",
                        method_name="affix", method_state={"prefix": "Option ", "suffix": ""},
                        options=[("1", "one")])
    save_model(root, m)
    back = load_model(root, "r", "e")
    assert back == m
    # pinned error string (reference test_end_to_end.py:85-95)
    with pytest.raises(FileNotFoundError, match=MODEL_NOT_FOUND):
        load_model(root, "r", "missing")
    # D3 TTL: too-new survives, stale removed
    assert cleanup_stale_models(root) == []
    removed = cleanup_stale_models(root, now=time.time() + 4 * 24 * 3600)
    assert len(removed) == 1
    with pytest.raises(FileNotFoundError):
        load_model(root, "r", "e")


def test_write_table_tenancy_injection(spark, tmp_path):
    from pdf_metadata_extraction_spark.sources.io import read_table, write_table

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, payload string")
    path = str(tmp_path / "t")
    write_table(df, "labeled_data", path, mode="overwrite", tenancy=("r1", "e1"))
    back = read_table(spark, "labeled_data", path)
    rows = back.collect()
    assert all(r["run_name"] == "r1" and r["extraction_name"] == "e1" for r in rows)
    # tenancy partition columns exist on disk (pruning layout)
    assert os.path.isdir(os.path.join(path, "run_name=r1", "extraction_name=e1"))


def test_streaming_available_now_dispatch(spark, tmp_path):
    from pdf_metadata_extraction_spark.streaming.tasks import run_dispatch, task_stream

    task_dir = tmp_path / "tasks"
    task_dir.mkdir()
    (task_dir / "batch1.jsonl").write_text(
        '{"tenant":"t","task":"create_model","params":{"id":"a"}}\n'
        "garbage line\n"
        '{"tenant":"t","task":"suggestions","params":{"id":"b"}}\n'
    )
    seen = []
    q = run_dispatch(
        task_stream(spark, str(task_dir)),
        handler=lambda rows, epoch: seen.extend(rows),
        checkpoint_dir=str(tmp_path / "ckpt"),
        once=True,
    )
    q.awaitTermination(120)
    assert sorted(r["params"]["id"] for r in seen) == ["a", "b"]
    # resume semantics: second availableNow run sees nothing new
    seen2 = []
    q2 = run_dispatch(
        task_stream(spark, str(task_dir)),
        handler=lambda rows, epoch: seen2.extend(rows),
        checkpoint_dir=str(tmp_path / "ckpt"),
        once=True,
    )
    q2.awaitTermination(120)
    assert seen2 == []


def test_method_selection_is_held_out():
    """A2 fidelity: the reference scores methods on samples distinct from
    training (GetPerformanceJobUseCase.py:43-54) — a memorizing method
    (LookupMethod) must NOT win on resubstitution accuracy. Under
    leave-one-out, lookup scores 0 on unseen sources while affix
    generalizes, so affix wins even though lookup memorizes the set."""
    from pdf_metadata_extraction_spark.operators import methods as M

    pairs = [("Code: A7", "A7"), ("Code: B9", "B9"), ("Code: C1", "C1")]
    name, state, acc = M.select_best_method(pairs)
    assert name == "affix"
    assert state == {"prefix": "Code: ", "suffix": ""}
    assert acc == 1.0

    # memorizable-only pairs: no method generalizes; tie at 0 resolves to
    # the earliest (simplest) method, never the memorizer
    memo = [("alpha", "zz1"), ("beta", "zz2")]
    name2, _state2, acc2 = M.select_best_method(memo)
    assert acc2 == 0.0 and name2 != "lookup"

    # single pair: no holdout possible → resubstitution, pinned error kept
    name3, _s3, acc3 = M.select_best_method([("Option 1", "1")])
    assert acc3 == 1.0 and name3 == "affix"
    with pytest.raises(ValueError, match="No valid performance results"):
        M.select_best_method([])


def test_fuzzy_dictionary_matching():
    """J3 fuzzy tier (reference: exact + fuzzy variants; behavior shape
    pinned at /root/reference/src/tests/test_end_to_end.py:267-292).
    Exact matches keep byte-identical markup; the fuzzy tier links case
    variants, plurals, accents, and punctuation-flexible multi-token
    labels — highlighting the ORIGINAL surface form."""
    from pdf_metadata_extraction_spark.operators.linking import match_options

    # exact tier untouched: byte-identical markup
    v = match_options("United Nations", [("1", "United Nations")], True)
    assert v[0]["segment_text"] == (
        '<p class="ix_matching_paragraph"><span class="ix_match">United Nations'
        "</span></p>"
    )

    # case fold
    v = match_options("the spark engine", [("1", "Spark")], True)
    assert [x["label"] for x in v] == ["Spark"]
    assert '<span class="ix_match">spark</span>' in v[0]["segment_text"]

    # plural both directions
    assert match_options("three customers here", [("1", "Customer")], True)
    assert match_options("one customer here", [("1", "Customers")], True)

    # accent fold, original surface highlighted
    v = match_options("café society", [("1", "Cafe")], True)
    assert '<span class="ix_match">café</span>' in v[0]["segment_text"]

    # flexible separator inside multi-token labels
    assert match_options("a hash-scan plan", [("1", "hash scan")], True)

    # whole-word boundary still enforced in the fuzzy tier
    assert match_options("sparkle", [("1", "Spark")], True) == []

    # exact match wins over fuzzy for the same label (span = exact span)
    v = match_options("spark then Spark", [("1", "Spark")], True)
    assert '<span class="ix_match">Spark</span>' in v[0]["segment_text"]

    # fuzzy off → old behavior
    assert match_options("the spark engine", [("1", "Spark")], True, fuzzy=False) == []


def test_write_table_iceberg_branch_routing(spark, monkeypatch):
    """The writeTo (Iceberg) branch had zero coverage — no Iceberg
    runtime in the sandbox, so pin the routing contract: catalog-present
    → DataFrameWriterV2 with the right table name, mode mapping
    (append/createOrReplace), and tenancy columns injected BEFORE the
    writer is built."""
    import pdf_metadata_extraction_spark.sources.io as io

    calls = {}

    class FakeWriter:
        def __init__(self, df, name):
            calls["table"] = name
            calls["columns"] = df.columns

        def createOrReplace(self):
            calls["mode"] = "createOrReplace"

        def append(self):
            calls["mode"] = "append"

    monkeypatch.setattr(io, "has_iceberg", lambda s, catalog="kg": True)
    df = spark.createDataFrame([(1,)], "x int")
    # patch the CONCRETE class (Spark 4: pyspark.sql.classic.dataframe)
    monkeypatch.setattr(type(df), "writeTo", lambda self, name: FakeWriter(self, name))

    io.write_table(df, "pages", "/tmp/unused", tenancy=("r1", "e1"))
    assert calls["table"] == "kg.pages"
    assert calls["mode"] == "append"
    assert set(calls["columns"]) == {"x", "run_name", "extraction_name"}

    io.write_table(df, "edges", "/tmp/unused", mode="overwrite")
    assert calls["table"] == "kg.edges" and calls["mode"] == "createOrReplace"


def test_regex_shape_method():
    """Shape induction: fixed-shape values in varying context, where the
    affix method has no common prefix/suffix to latch onto."""
    from pdf_metadata_extraction_spark.operators import methods as M

    pairs = [("AB12 is the ref", "AB12"), ("code=XY99.", "XY99"),
             ("(CD7)", "CD7")]
    name, state, acc = M.select_best_method(pairs)
    assert name == "regex_shape"
    assert state["pattern"] == r"[A-Z]{2}\d{1,2}"
    assert acc == pytest.approx(2 / 3)  # LOO: the 1-digit shape is unseen
    m = M.RegexShapeMethod.from_state(state)
    assert m.predict("code EF34 trailing") == "EF34"
    # mismatched shapes across labels → method not applicable
    r = M.RegexShapeMethod()
    assert r.fit([("a 12", "12"), ("b xy", "xy")]) is False


def test_delete_extractor(tmp_path):
    """Reference test_app.py:866-885: DELETE /{run}/{extraction} removes
    the extraction folder; returns true; idempotent."""
    from pdf_metadata_extraction_spark.plans.model_store import (
        MODEL_NOT_FOUND, delete_extractor, load_model, save_model,
    )
    from pdf_metadata_extraction_spark.plans.pipeline import ExtractionModel

    root = str(tmp_path / "models")
    save_model(root, ExtractionModel(run_name="r", extraction_name="e",
                                     kind="text_to_text"))
    assert os.path.isdir(os.path.join(root, "r", "e"))
    assert delete_extractor(root, "r", "e") is True
    assert not os.path.exists(os.path.join(root, "r", "e"))
    with pytest.raises(FileNotFoundError, match=MODEL_NOT_FOUND):
        load_model(root, "r", "e")
    assert delete_extractor(root, "r", "e") is True  # idempotent


def test_link_options_gate_equals_per_row_spec(spark):
    """link_options output must be identical to applying match_options
    per row (mixed dictionaries, fuzzy-only hits, decomposed unicode, and
    no-match rows in one run)."""
    from pdf_metadata_extraction_spark.operators.linking import (
        link_options,
        match_options,
    )

    rows = [
        ("a", "the united nations met", 1),
        ("a", "nothing relevant here", 2),
        ("a", "Customer reports; les és aussi", 3),  # fuzzy + decomposed
        ("b", "spark and window functions", 4),
        ("b", "", 5),
        ("b", None, 6),
    ]
    segs = spark.createDataFrame(
        rows, "extraction_name string, text string, seg int"
    )
    opts_rows = [
        ("a", "o1", "united nations", True),
        ("a", "o2", "Customers", True),
        ("a", "o3", "és", True),
        ("b", "o4", "spark", False),
        ("b", "o5", "window", False),
    ]
    options = spark.createDataFrame(
        opts_rows,
        "extraction_name string, option_id string, label string, multi_value boolean",
    )
    got = {
        r["seg"]: [tuple(v) for v in r["values"]]
        for r in link_options(segs, options).collect()
    }
    dicts = {
        "a": (True, [(o[1], o[2]) for o in opts_rows if o[0] == "a"]),
        "b": (False, [(o[1], o[2]) for o in opts_rows if o[0] == "b"]),
    }
    for name, text, seg in rows:
        mv, opts = dicts[name]
        expected = [
            (v["id"], v["label"], v["segment_text"])
            for v in match_options(text or "", opts, mv)
        ]
        assert got[seg] == expected, (seg, got[seg], expected)
    assert got[1] and got[3] and got[4] and not got[2] and not got[5]
