"""LLM-output JSON repair ladder (SURVEY.md §2.9 N13).

The reference parses LLM responses with a cascade of heuristics
(src/predictions_openrouter.py:217-294 extract_json_from_response;
src/predictions.py:170-176 fence stripping; src/resubmission_recovery.py:
316-331 regex pair extraction): direct parse → strip markdown fences →
first balanced ``{...}`` → regex ``"id": "reason"`` pairs → empty fallback.

This is one of the few genuinely non-declarative operators (SURVEY.md
§2.12): it runs as an Arrow-batched pandas UDF, never row-at-a-time.
"""

from __future__ import annotations

import json
import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf

_FENCE_RE = re.compile(r"^\s*```(?:json)?\s*|\s*```\s*$", re.MULTILINE)
_PAIR_RE = re.compile(r'"?(\d{1,20})"?\s*:\s*"((?:[^"\\]|\\.)*)"')


def _first_balanced_object(text: str) -> str | None:
    """Return the first balanced {...} span, honoring strings/escapes."""
    start = text.find("{")
    if start < 0:
        return None
    depth = 0
    in_str = False
    esc = False
    for i in range(start, len(text)):
        ch = text[i]
        if esc:
            esc = False
            continue
        if ch == "\\":
            esc = True
            continue
        if ch == '"':
            in_str = not in_str
            continue
        if in_str:
            continue
        if ch == "{":
            depth += 1
        elif ch == "}":
            depth -= 1
            if depth == 0:
                return text[start : i + 1]
    return None


def repair_json(text: str | None) -> dict:
    """Run the repair ladder; always returns a dict (possibly empty)."""
    if not text:
        return {}
    # 1. direct parse
    for candidate in (text, _FENCE_RE.sub("", text)):
        try:
            obj = json.loads(candidate)
            if isinstance(obj, dict):
                return obj
        except (json.JSONDecodeError, ValueError):
            pass
    # 3. first balanced object
    span = _first_balanced_object(_FENCE_RE.sub("", text))
    if span is not None:
        try:
            obj = json.loads(span)
            if isinstance(obj, dict):
                return obj
        except (json.JSONDecodeError, ValueError):
            pass
    # 4. regex id:reason pairs
    pairs = _PAIR_RE.findall(text)
    if pairs:
        return {k: v for k, v in pairs}
    # 5. empty fallback
    return {}


def _repair_batch(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: json.dumps(repair_json(t), sort_keys=True))


def repair_json_column(col: Column) -> Column:
    """Arrow-batched repair ladder → canonical JSON string (sorted keys),
    ready for ``from_json`` with a declared schema downstream.

    (UDF built lazily — pandas_udf registration needs an active session.)
    """
    return pandas_udf(_repair_batch, "string")(col)
