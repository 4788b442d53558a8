"""Fixed transcript vocabulary: the JSON-LD @context for the
conversation/turn KG (BASELINE.json input_hint shape) plus the IRI
constants both pipeline paths share.

The kernel path feeds TRANSCRIPT_CONTEXT to the generic JSON-LD
engine; the vectorized path hard-codes the same IRIs as column
expressions. A differential test asserts both emit identical triples.
"""
from __future__ import annotations

TR = "http://example.org/transcript#"
CONV_NS = "http://example.org/conv/"
ENT_NS = "http://example.org/entity/"
TOOL_NS = "http://example.org/tool/"
XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

XSD_STRING = XSD + "string"
XSD_INTEGER = XSD + "integer"
XSD_DATETIME = XSD + "dateTime"

# Per-turn mention markers look like "[[Entity12]]" (or "[[entity12]]"
# for a non-canonical surface form); extraction is a plain regex so the
# vectorized path stays JVM-side and the oracle stays ANSI-SQL.
MENTION_RE = r"\[\[([A-Za-z]+[0-9]+)\]\]"
# Same match surface, capturing only the digit tail: the canonical
# entity is "Entity" + tail, so linking needs no second regex.
MENTION_DIGITS_RE = r"\[\[[A-Za-z]+([0-9]+)\]\]"

TRANSCRIPT_CONTEXT = {
    "@vocab": TR,
    "conv": CONV_NS,
    "ent": ENT_NS,
    "tool": TOOL_NS,
    "hasTurn": {"@id": TR + "hasTurn", "@type": "@id"},
    "usesTool": {"@id": TR + "usesTool", "@type": "@id"},
    "mentions": {"@id": TR + "mentions", "@type": "@id"},
    "ts": {"@id": TR + "ts", "@type": XSD_DATETIME},
    "role": TR + "role",
    "text": TR + "text",
    "turnIndex": TR + "turnIndex",
}


def conv_iri(conv_id: str) -> str:
    return CONV_NS + conv_id


def turn_iri(conv_id: str, turn_idx: int) -> str:
    return f"{CONV_NS}{conv_id}/turn/{turn_idx}"


def entity_iri(canonical: str) -> str:
    return ENT_NS + canonical


def canonical_entity(surface: str) -> str:
    """Entity canonicalization: case-fold the alpha part to 'Entity'.
    'entity12' / 'Entity12' → 'Entity12'."""
    i = 0
    while i < len(surface) and not surface[i].isdigit():
        i += 1
    return "Entity" + surface[i:]
