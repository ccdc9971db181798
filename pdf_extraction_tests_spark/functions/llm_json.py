"""LLM-response parsing: JSON brace-matching + regex fallback (SURVEY U5).

The reference's LLM-assisted path asks a local model for document structure
and parses the reply defensively (Document_Processor_DocLayout_YOLO_Code_
v10.R:906-1032): find the outermost JSON object by brace matching, try
``fromJSON``, fall back to regex field extraction, fall back to defaults
(regions [1], [2], [3,4,5], v10.R:1026-1028).

:func:`parse_llm_response` is the one parser; the optional LLM
``mapInPandas`` hook (SURVEY U4, off the deterministic hot path) runs it
once per reply.

The LLM call itself is OUT of the deterministic pipeline (north rule: no
per-row Python / deterministic results); the hook stage accepts any
``chat_fn: list[str] -> list[str]`` so production can plug a real endpoint
while tests use a canned responder.
"""

from __future__ import annotations

import json
import re

# reference defaults (v10.R:1026-1028)
DEFAULT_STRUCTURE = {
    "title_region": 1,
    "author_regions": [2],
    "abstract_regions": [3, 4, 5],
}

_INT_LIST_RE = r"\[\s*(\d+(?:\s*,\s*\d+)*)\s*\]"


def extract_json_object(text: str) -> str | None:
    """Outermost {...} by brace matching (v10.R:912-935) — string-aware."""
    start = text.find("{")
    if start < 0:
        return None
    depth = 0
    in_str = False
    esc = False
    for i in range(start, len(text)):
        ch = text[i]
        if in_str:
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == '"':
                in_str = False
            continue
        if ch == '"':
            in_str = True
        elif ch == "{":
            depth += 1
        elif ch == "}":
            depth -= 1
            if depth == 0:
                return text[start : i + 1]
    return None


def parse_llm_response(text: str) -> dict:
    """Brace-match -> json -> regex fallback -> defaults (v10.R:906-1032)."""
    obj = extract_json_object(text or "")
    if obj is not None:
        try:
            parsed = json.loads(obj)
            return {
                "title_region": int(parsed.get("title_region",
                                               DEFAULT_STRUCTURE["title_region"])),
                "author_regions": [int(x) for x in parsed.get(
                    "author_regions", DEFAULT_STRUCTURE["author_regions"])],
                "abstract_regions": [int(x) for x in parsed.get(
                    "abstract_regions", DEFAULT_STRUCTURE["abstract_regions"])],
            }
        except (ValueError, TypeError):
            pass
    out = dict(DEFAULT_STRUCTURE)
    m = re.search(r"title_region\D+(\d+)", text or "")
    if m:
        out["title_region"] = int(m.group(1))
    for key in ("author_regions", "abstract_regions"):
        m = re.search(key + r"\D*?" + _INT_LIST_RE, text or "")
        if m:
            out[key] = [int(x) for x in re.findall(r"\d+", m.group(1))]
    return out
