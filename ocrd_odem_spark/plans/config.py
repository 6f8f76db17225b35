"""Config-driven pipeline instantiation (reference ``init_steps``,
``/root/reference/lib/odem/ocr/ocr_pipeline.py:631-651``).

The reference builds its post-OCR step chain from an INI file: sections
named ``step_NN`` sorted numerically, each with a ``type`` key naming a
step class and the remaining keys passed as string kwargs
(``resources/odem.ocr-pipeline.steps.ini``).  This module parses the same
INI format into a stage list of ``(name, params)`` pairs, and ``line_chain``
turns such a list into the per-line function that ``pipeline.extract(steps=)``
runs in its Arrow stage.

Step-type mapping to the three stage names:

* ``StepPostReplaceChars``      -> ``replace_chars`` (T2), dict parsed with
  the reference's own quirky ``parse_dict`` semantics (see below)
* ``StepPostReplaceCharsRegex`` -> ``replace_regex`` (T3), pattern/old/new
  passed VERBATIM — the reference keeps raw INI values including any
  quote characters (its test asserts ``pattern == 'r\\'(...)"\\''``)
* ``StepPostprocessALTO``       -> ``postprocess`` — the span-tier
  equivalent of the reference's empty-content cascade + token cleanup

Environment-bound step types (subprocess OCR, HTTP quality estimation,
file moves/cleanup) have no span-transform semantics; they are reported in
the ``skipped`` list rather than silently dropped: ``StepTesseract``
(this engine CONSUMES OCR output), ``StepEstimateOCR`` (A4/A5 live as the
``operators.quality`` aggregations), ``StepPostMoveAlto`` /
``StepPostRemoveFile`` (sink concerns, S6/S9).
"""

from __future__ import annotations

import configparser
import re
from collections.abc import Callable

from ..operators.replace import regex_rewrite
from ..oracle import postprocess_line_tokens

STEP_TYPE_MAP = {
    "StepPostReplaceChars": "replace_chars",
    "StepPostReplaceCharsRegex": "replace_regex",
    "StepPostprocessALTO": "postprocess",
}

SKIPPED_TYPES = {
    "StepTesseract",
    "StepEstimateOCR",
    "StepPostMoveAlto",
    "StepPostRemoveFile",
}


def parse_dict(the_dict) -> dict:
    """Bug-compatible re-statement of the reference's ``parse_dict``
    (``ocr_pipeline.py:184-194``): strip braces, split on ',' and ':',
    KEEP any quote characters in keys/values, and return ``{}`` when the
    string holds fewer than two comma-separated pairs (the reference's
    ``len(tkns) > 1`` guard)."""
    if isinstance(the_dict, str):
        the_dict = the_dict.replace("{", "").replace("}", "")
        tkns = the_dict.split(",")
        if len(tkns) > 1:
            return {
                tkn.split(":")[0].strip(): tkn.split(":")[1].strip()
                for tkn in tkns
            }
    if isinstance(the_dict, dict):
        return the_dict
    return {}


def load_steps_ini(path: str) -> tuple[list, list]:
    """Parse a reference-format steps INI into ``(stages, skipped)``.

    ``stages`` is the ``steps`` argument of ``pipeline.extract``; ``skipped``
    lists ``(section, type)`` of environment-bound steps.  Unknown step
    types raise ``KeyError("Unknown step '<type>'!")`` exactly like the
    reference's ``init_steps``.
    """
    cfg = configparser.ConfigParser()
    with open(path, encoding="utf-8") as fh:
        cfg.read_string(fh.read())
    sections = sorted(
        (s for s in cfg.sections() if s.startswith("step_")),
        key=lambda s: int(s.split("_")[1]),
    )
    stages: list = []
    skipped: list = []
    for sec in sections:
        step_type = cfg.get(sec, "type")
        if step_type in SKIPPED_TYPES:
            skipped.append((sec, step_type))
            continue
        if step_type not in STEP_TYPE_MAP:
            raise KeyError(f"Unknown step '{step_type}'!")
        name = STEP_TYPE_MAP[step_type]
        raw = {k: v for k, v in cfg[sec].items() if k != "type"}
        if name == "replace_chars":
            params = {"dict_chars": parse_dict(raw.get("dict_chars", "{}"))}
        elif name == "replace_regex":
            params = {"pattern": raw["pattern"], "old": raw["old"], "new": raw["new"]}
        else:
            params = {}
        stages.append((name, params))
    return stages, skipped


def postprocess_text(line: str | None) -> str | None:
    """The ``postprocess`` step: token post-processing of one line, ``None``
    (dropped) when no token survives; a null text is dropped too."""
    tokens = postprocess_line_tokens((line or "").split(" "))
    return " ".join(tokens) if tokens else None


def line_chain(stages) -> Callable[[str | None], str | None]:
    """Compose ``(name, params)`` stages into one per-line function.

    ``None`` out means the line is dropped.  ``replace_chars`` is chained
    ``str.replace`` in dict order, ``replace_regex`` substitutes ``new`` for
    every match of ``operators.replace.regex_rewrite(pattern, old)``, and
    both pass ``None`` on unchanged: only ``postprocess`` drops a line, so
    a chain without it keeps null and emptied lines.  Unknown names raise
    ``KeyError``, and so does a ``new`` holding ``$`` or ``\\``: the
    reference inserts ``new`` literally, while ``re.sub`` (and Spark's
    ``regexp_replace``) would read it as a group reference.
    """
    fns = []
    for name, params in stages:
        if name == "postprocess":
            fns.append(postprocess_text)
        elif name == "replace_chars":
            items = tuple(params["dict_chars"].items())

            def chars(t, items=items):
                if t is not None:
                    for old, new in items:
                        t = t.replace(old, new)
                return t

            fns.append(chars)
        elif name == "replace_regex":
            new = params["new"]
            if "$" in new or "\\" in new:
                raise KeyError(f"replace_regex: group reference in new={new!r}")
            rx = re.compile(regex_rewrite(params["pattern"], params["old"]))
            fns.append(lambda t, rx=rx, new=new: t if t is None else rx.sub(new, t))
        else:
            known = sorted(STEP_TYPE_MAP.values())
            raise KeyError(f"unknown step {name!r}; known: {known}")
    if len(fns) == 1:
        return fns[0]  # the default extract: no loop per line

    def chain(line):
        for fn in fns:
            line = fn(line)
        return line

    return chain
