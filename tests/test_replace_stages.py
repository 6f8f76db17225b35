"""T2/T3/T6/T7/T10 replacement ops + the INI step chain (O4)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ocrd_odem_spark import oracle
from ocrd_odem_spark.operators import replace
from ocrd_odem_spark.plans import config, pipeline


def test_replace_chars_and_counts():
    """T2 chained literal replacements, as the INI step chain runs them.
    (Named for the per-line hit counts of a Catalyst operator since
    deleted; nothing produces those counts now.)"""
    d = {"ic)": "ich", "s<": "sc"}
    step = config.line_chain([("replace_chars", {"dict_chars": d})])
    assert step("ic) gut s< und ic)") == "ich gut sc und ich"
    assert step("nichts") == "nichts"


def test_replace_regex_j_to_i():
    regex = {"pattern": r"(J[cdhmn]\w*)", "old": "J", "new": "I"}
    step = config.line_chain([("replace_regex", regex)])
    assert step("Jch bin Jndeß hier Jn") == "Ich bin Indeß hier In"
    assert step("Januar bleibt Januar") == "Januar bleibt Januar"  # Ja not in [cdhmn]


def test_normalize_index_content(spark):
    rows = [("Wort",), ("Wort,",), ("1749;",), ("‒Zug‟",)]
    df = spark.createDataFrame(rows, "t string")
    out = [r["r"] for r in df.select(
        replace.normalize_index_content(F.col("t")).alias("r")).collect()]
    want = [oracle.normalize_index_content(t[0]) for t in rows]
    assert out == want
    assert out == ["Wort", "Wort", "1749", "Zug"]


def test_normalize_vocal_ligatures(spark):
    rows = [("Gluͤck",), ("Hoͤhe",), ("uͤber",), ("xͤy",)]
    df = spark.createDataFrame(rows, "t string")
    out = df.select(
        replace.normalize_vocal_ligatures(F.col("t")).alias("v")
    ).collect()
    assert [r["v"]["text"] for r in out[:3]] == ["Glück", "Höhe", "über"]
    assert out[3]["v"]["error"] is not None  # x-base is an error channel
    for t, r in zip(["Gluͤck", "Hoͤhe", "uͤber"], out[:3]):
        assert r["v"]["text"] == oracle.normalize_vocal_ligatures(t)
    with pytest.raises(ValueError):
        oracle.normalize_vocal_ligatures("xͤy")


def test_page_ref_normalization(spark):
    df = spark.createDataFrame([("00000003",)], "m string")
    r = df.select(
        replace.normalize_page_ref(F.col("m")).alias("pid"),
        replace.media_file_name(F.col("m")).alias("fn"),
    ).collect()[0]
    assert r["pid"] == "p00000003"
    assert r["fn"] == "00000003.jpg"


_SPANS = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def _texts(docs, steps):
    """(kind, text, offset) of each doc's extracted spans, by doc_id."""
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["offset"]) for s in r["spans"]]
        for r in pipeline.extract(docs, steps=steps).collect()
    }


def test_steps_with_replacements(spark):
    docs = spark.createDataFrame(
        [("d1", [{"kind": "media", "text": "", "media_ref": "00000001", "offset": 0},
                 {"kind": "text", "text": "Jch ſehe ic) gut", "media_ref": "00000001", "offset": 1}])],
        _SPANS,
    )
    got = _texts(docs, [
        ("replace_chars", {"dict_chars": {"ic)": "ich"}}),
        ("replace_regex", {"pattern": r"(J[cdhmn]\w*)", "old": "J", "new": "I"}),
        ("postprocess", {}),
    ])
    assert [t for k, t, _ in got["d1"] if k == "text"] == ["Ich ſehe ich gut"]


def test_unknown_stage_rejected(spark):
    docs = spark.createDataFrame([], _SPANS)
    with pytest.raises(KeyError, match="unknown step"):
        pipeline.extract(docs, steps=[("postprocess", {}), ("nope", {})])


def test_unsupported_steps_rejected(spark):
    """Only the three step kinds the INI loader emits run; a replacement
    with a group reference, and de-hyphenation without a postprocess step,
    are refused when the plan is built."""
    docs = spark.createDataFrame([], _SPANS)
    regex = {"pattern": "(J[cdhmn])", "old": "J", "new": "$1"}
    with pytest.raises(KeyError, match="group reference"):
        pipeline.extract(docs, steps=[("replace_regex", regex)])
    with pytest.raises(ValueError, match="postprocess"):
        pipeline.extract(docs, dehyphenate=True, steps=[])


def test_null_text_through_steps(spark):
    """Replace steps pass a null text on; a postprocess step drops it (as
    the default extract does), a chain without one keeps it, and keeps a
    line a replacement emptied."""
    docs = spark.createDataFrame(
        [("d1", [{"kind": "text", "text": None, "media_ref": "p1", "offset": 0},
                 {"kind": "text", "text": "xx", "media_ref": "p1", "offset": 1},
                 {"kind": "text", "text": "Jn dem", "media_ref": "p1", "offset": 2}])],
        _SPANS,
    )
    chars = ("replace_chars", {"dict_chars": {"xx": "", "dem": "den"}})
    regex = ("replace_regex", {"pattern": "(J[cdhmn])", "old": "J", "new": "I"})
    assert _texts(docs, [regex, chars]) == {
        "d1": [("text", None, 0), ("text", "", 1), ("text", "In den", 2)]
    }
    row = pipeline.extract(docs, with_metrics=True, steps=[regex, chars]).first()
    # split(' ') counts: None -> 0 tokens, '' -> 1, 'In den' -> 2
    assert (row["n_lines_out"], row["n_tokens_out"]) == (3, 3)
    assert _texts(docs, [regex, chars, ("postprocess", {})]) == {
        "d1": [("text", "In den", 0)]
    }
    assert _texts(docs, [("postprocess", {}), regex, chars]) == {
        "d1": [("text", "", 0), ("text", "In den", 1)]
    }
    assert _texts(docs, pipeline.EXTRACT_STEPS) == {
        "d1": [("text", "xx", 0), ("text", "Jn dem", 1)]
    }


_INI = """[step_2]
type = StepPostReplaceCharsRegex
pattern = (J[cdhmn])
old = J
new = I

[step_10]
type = StepPostReplaceChars
dict_chars = {Ic:Ich, ic):ich}

[step_7]
type = StepPostMoveAlto
path_target = moved

[step_11]
type = StepPostprocessALTO
"""


def test_ini_steps_run_in_extract(spark, tmp_path):
    """A reference-format INI drives the extract's step chain in numeric
    section order: regex (step_2) before chars (step_10), so 'Jc' becomes
    'Ic' and then 'Ich' (a lexical order would leave 'Ic').  Moving the
    postprocess step first splits 'ic)' before the char dict sees it."""
    from ocrd_odem_spark.plans.config import load_steps_ini

    docs = spark.createDataFrame(
        [("d1", [{"kind": "media", "text": "", "media_ref": "p1", "offset": 4},
                 {"kind": "text", "text": "a .", "media_ref": "p1", "offset": 6},
                 {"kind": "text", "text": "Jc sah ic) gut.", "media_ref": "p1", "offset": 5},
                 {"kind": "text", "text": "Jn dem Jahr 1749", "media_ref": "p1", "offset": 9}])],
        _SPANS,
    )
    ini = tmp_path / "steps.ini"
    ini.write_text(_INI)
    steps, skipped = load_steps_ini(str(ini))
    assert skipped == [("step_7", "StepPostMoveAlto")]
    assert _texts(docs, steps) == {"d1": [
        ("media", "", 0),
        ("text", "Ich sah ich gut .", 1),
        ("text", "In dem Jahr 1749", 2),
    ]}

    ini.write_text(_INI.replace("[step_11]", "[step_1]"))
    steps, _ = load_steps_ini(str(ini))
    assert _texts(docs, steps) == {"d1": [
        ("media", "", 0),
        ("text", "Ich sah ic ) gut .", 1),
        ("text", "In dem Jahr 1749", 2),
    ]}


# ---------------------------------------------------------------------------
# INI pipeline loader (reference init_steps, ocr_pipeline.py:631-651)
# ---------------------------------------------------------------------------

REF_STEPS_INI = "/root/reference/resources/odem.ocr-pipeline.steps.ini"
REF_FULL_INI = "/root/reference/tests/resources/ocr_config_full.ini"


def test_ini_loader_default_steps():
    """The shipped default config yields Regex -> Postprocess in order,
    with the Tesseract step reported as environment-skipped."""
    from ocrd_odem_spark.plans.config import load_steps_ini

    stages, skipped = load_steps_ini(REF_STEPS_INI)
    assert stages == [
        ("replace_regex", {"pattern": r"(J[cdhmn]\w*)", "old": "J", "new": "I"}),
        ("postprocess", {}),
    ]
    assert skipped == [("step_01", "StepTesseract")]


def test_ini_loader_full_config_order_and_quirks():
    """The reference's full test config: 5 steps -> chars, regex kept
    VERBATIM (reference asserts pattern == 'r\\'(...)\"\\''), three
    environment steps skipped; parse_dict keeps quote chars (reference
    parse_dict, ocr_pipeline.py:184-194)."""
    from ocrd_odem_spark.plans.config import load_steps_ini, parse_dict

    stages, skipped = load_steps_ini(REF_FULL_INI)
    assert [s for s, _ in stages] == ["replace_chars", "replace_regex"]
    assert stages[0][1]["dict_chars"] == {
        "'ic)'": "'ich'", "'s&lt;'": "'sc'", "'&lt;'": "'c'"
    }
    assert stages[1][1]["pattern"] == "r'([aeioubcglnt]3[:-]*\")'"
    assert stages[1][1]["old"] == "'3'"
    assert [t for _, t in skipped] == [
        "StepTesseract", "StepEstimateOCR", "StepPostMoveAlto"
    ]
    # parse_dict single-pair guard (len(tkns) > 1), braces stripped
    assert parse_dict("{'a': 'b'}") == {}
    assert parse_dict({"x": "y"}) == {"x": "y"}


def test_ini_loader_unknown_type_rejected(tmp_path):
    from ocrd_odem_spark.plans.config import load_steps_ini

    bad = tmp_path / "steps.ini"
    bad.write_text("[step_01]\ntype = StepNope\n")
    with pytest.raises(KeyError, match="Unknown step 'StepNope'!"):
        load_steps_ini(str(bad))


def test_ini_loaded_pipeline_runs(spark):
    """End-to-end: the default INI's stage list drives the extract's step
    chain and performs the J->I replacement + postprocess cascade."""
    from ocrd_odem_spark.plans.config import load_steps_ini

    stages, _ = load_steps_ini(REF_STEPS_INI)
    docs = spark.createDataFrame(
        [("d1", [{"kind": "text", "text": "Jch bin hier", "media_ref": None,
                  "offset": 0}])],
        _SPANS,
    )
    spans = pipeline.extract(docs, steps=stages).collect()[0]["spans"]
    assert [s["text"] for s in spans] == ["Ich bin hier"]
