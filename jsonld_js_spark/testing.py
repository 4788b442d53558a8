"""Test helpers: quad normalization + triple-set comparison modulo
blank-node bijection.

Mirrors the reference's toRDF comparator semantics (ref
tests/test-common.js:777-795: both sides canonized so bnode labels do
not matter) without URDNA2015 — fixture graphs are small enough for
signature-refinement + bounded backtracking.
"""
from __future__ import annotations

import itertools
from typing import Iterable, Sequence

XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"

Quad = tuple  # (subj, pred, obj_value, obj_termtype, obj_datatype, obj_language, graph)


def quad_from_reference_json(q: dict) -> Quad:
    """Normalize one quad from the node-oracle JSON shape
    ({subject,predicate,object,graph} term dicts) to the kernel tuple."""
    def term_value(t):
        return t["value"]

    obj = q["object"]
    if obj["termType"] == "Literal":
        dt = obj.get("datatype")
        if isinstance(dt, dict):  # raw rdf-canonize term shape
            dt = dt.get("value")
        dt = dt or XSD_STRING
        lang = obj.get("language") or None
    else:
        dt = None
        lang = None
    graph = q["graph"]
    graph_value = "" if graph["termType"] == "DefaultGraph" else graph["value"]
    return (term_value(q["subject"]), term_value(q["predicate"]),
            obj["value"], obj["termType"], dt, lang, graph_value)


def normalize_quads(quads: Iterable[Sequence]) -> frozenset:
    """Kernel tuples → canonical comparable set (xsd:string normalized)."""
    out = set()
    for q in quads:
        s, p, ov, ott, odt, olang, g = q
        if ott == "Literal":
            odt = odt or XSD_STRING
        else:
            odt = None
            olang = None
        out.add((s, p, ov, ott, odt, olang or None, g))
    return frozenset(out)


def _is_bnode(label: str) -> bool:
    return isinstance(label, str) and label.startswith("_:")


def _bnodes_of(quads: frozenset) -> set:
    out = set()
    for s, p, ov, ott, *_rest, g in quads:
        if _is_bnode(s):
            out.add(s)
        if _is_bnode(p):  # generalized RDF
            out.add(p)
        if ott in ("BlankNode",):
            out.add(ov)
        if _is_bnode(g):
            out.add(g)
    return out


def _signature_refine(quads: frozenset, rounds: int = 4) -> dict:
    """Color-refinement signatures for bnodes (WL-style)."""
    sig = {b: "" for b in _bnodes_of(quads)}
    for _ in range(rounds):
        nxt = {b: [] for b in sig}
        for s, p, ov, ott, odt, olang, g in quads:
            s_tag = sig.get(s, s) if _is_bnode(s) else s
            p_tag = sig.get(p, p) if _is_bnode(p) else p
            o_is_b = ott == "BlankNode"
            o_tag = sig.get(ov, ov) if o_is_b else ov
            g_tag = sig.get(g, g) if _is_bnode(g) else g
            if _is_bnode(s):
                nxt[s].append(("S", p_tag, o_tag, ott, odt, olang, g_tag))
            if _is_bnode(p):
                nxt[p].append(("P", s_tag, o_tag, ott, odt, olang, g_tag))
            if o_is_b:
                nxt[ov].append(("O", p_tag, s_tag, odt, olang, g_tag))
            if _is_bnode(g):
                nxt[g].append(("G", p_tag, s_tag, o_tag))
        sig = {b: repr(sorted(map(repr, v))) for b, v in nxt.items()}
    return sig


def _apply_mapping(quads: frozenset, mapping: dict) -> frozenset:
    out = set()
    for s, p, ov, ott, odt, olang, g in quads:
        s2 = mapping.get(s, s) if _is_bnode(s) else s
        p2 = mapping.get(p, p) if _is_bnode(p) else p
        ov2 = mapping.get(ov, ov) if ott == "BlankNode" else ov
        g2 = mapping.get(g, g) if _is_bnode(g) else g
        out.add((s2, p2, ov2, ott, odt, olang, g2))
    return frozenset(out)


def best_bnode_match(mine: frozenset, theirs: frozenset,
                     max_perms: int = 40320) -> tuple[int, dict]:
    """Find a bnode bijection maximizing |mapped(mine) ∩ theirs|.

    Groups bnodes by refinement signature; exact within-group
    permutation search bounded by max_perms, greedy fallback beyond.
    Returns (matched_count, mapping).
    """
    sig_a = _signature_refine(mine)
    sig_b = _signature_refine(theirs)
    groups_a: dict[str, list] = {}
    for b, s in sig_a.items():
        groups_a.setdefault(s, []).append(b)
    groups_b: dict[str, list] = {}
    for b, s in sig_b.items():
        groups_b.setdefault(s, []).append(b)

    mapping: dict[str, str] = {}
    choice_groups = []  # (a_list, b_list) with >1 candidate orderings
    for s, a_list in sorted(groups_a.items()):
        b_list = groups_b.get(s, [])
        a_list = sorted(a_list)
        b_list = sorted(b_list)
        if len(a_list) == 1 and len(b_list) == 1:
            mapping[a_list[0]] = b_list[0]
        elif b_list:
            choice_groups.append((a_list, b_list))

    def score(m):
        return len(_apply_mapping(mine, m) & theirs)

    if not choice_groups:
        return score(mapping), mapping

    total_perms = 1
    for a_list, b_list in choice_groups:
        total_perms *= max(
            1, len(list(itertools.permutations(b_list, min(len(a_list), len(b_list)))))
        )
        if total_perms > max_perms:
            break
    if total_perms <= max_perms:
        best_score, best_map = -1, dict(mapping)
        def rec(i, cur):
            nonlocal best_score, best_map
            if i == len(choice_groups):
                sc = score(cur)
                if sc > best_score:
                    best_score, best_map = sc, dict(cur)
                return
            a_list, b_list = choice_groups[i]
            k = min(len(a_list), len(b_list))
            for perm in itertools.permutations(b_list, k):
                for a, b in zip(a_list, perm):
                    cur[a] = b
                rec(i + 1, cur)
                for a in a_list[:k]:
                    cur.pop(a, None)
        rec(0, mapping)
        return best_score, best_map
    # greedy fallback: positional within sorted signature groups
    for a_list, b_list in choice_groups:
        for a, b in zip(a_list, b_list):
            mapping[a] = b
    return score(mapping), mapping


def compare_triple_sets(mine: Iterable[Sequence],
                        theirs: Iterable[Sequence]) -> dict:
    """Precision/recall of `mine` vs golden `theirs`, modulo bnode
    bijection. Inputs are kernel quad tuples (or pre-normalized sets)."""
    a = mine if isinstance(mine, frozenset) else normalize_quads(mine)
    b = theirs if isinstance(theirs, frozenset) else normalize_quads(theirs)
    matched, mapping = best_bnode_match(a, b)
    precision = matched / len(a) if a else 1.0
    recall = matched / len(b) if b else 1.0
    return {"matched": matched, "mine": len(a), "theirs": len(b),
            "precision": precision, "recall": recall, "mapping": mapping,
            "missing": sorted(b - _apply_mapping(a, mapping))[:10],
            "extra": sorted(_apply_mapping(a, mapping) - b)[:10]}


def event_logging_map(events: list):
    """expansionMap callback that appends normalized event records —
    the same normalization the oracle harness applies to the
    reference's event stream (tools/oracle_harness/oracle.js
    'expandEvents'), so fixture tests can compare sequences exactly."""
    def emap(info):
        if "unmappedProperty" in info:
            events.append({"kind": "unmappedProperty",
                           "key": info["unmappedProperty"]})
        elif "relativeIri" in info:
            events.append({"kind": "relativeIri",
                           "value": info["relativeIri"],
                           "typeExpansion": bool(info.get("typeExpansion"))})
        elif "prependedIri" in info:
            p = info["prependedIri"]
            prefix = p.get("vocab") if p["type"] == "@vocab" else p.get("base")
            events.append({"kind": "prependedIri", "type": p["type"],
                           "prefix": "" if prefix is None else prefix,
                           "value": p["value"],
                           "typeExpansion": bool(p.get("typeExpansion")),
                           "result": p["result"]})
        else:
            events.append({"kind": "unmappedValue",
                           "value": info.get("unmappedValue")})
        return None
    return emap
