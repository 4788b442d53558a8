"""Kernel conformance vs reference-golden fixtures.

Fixtures under tests/fixtures/ are frozen goldens, captured once by
running the reference jsonld.js; they are never regenerated or edited
by hand, and the manifest test below keeps them consistent. Comparators
mirror the reference's test strategy (ref tests/test-common.js:747-795):
deep JSON equality for expand/flatten/compact/merge, triple-set equality
modulo blank-node bijection for toRDF.
"""
from __future__ import annotations

import json
import os

import pytest

from jsonld_js_spark.kernel import (
    ContextResolver, JsonLdError, compact, expand, flatten, frame, merge,
    to_rdf,
)
from jsonld_js_spark.testing import (
    compare_triple_sets, normalize_quads, quad_from_reference_json,
)

FIXDIR = os.path.join(os.path.dirname(__file__), "fixtures")

with open(os.path.join(FIXDIR, "manifest.json")) as f:
    MANIFEST = json.load(f)

CASES = [(entry["name"], op, entry) for entry in MANIFEST
         for op in entry["ops"]]


def _load(name):
    with open(os.path.join(FIXDIR, name)) as f:
        return json.load(f)


def _options(entry):
    options = dict(entry.get("options", {}))
    if "documents" in entry:
        docs = _load(entry["documents"])
        options["contextResolver"] = ContextResolver(documents=docs)
    return options


@pytest.mark.parametrize("name,op,entry", CASES,
                         ids=[f"{n}-{o}" for n, o, _ in CASES])
def test_conformance(name, op, entry):
    doc = _load(f"{name}-in.json")
    options = _options(entry)
    spec = entry["ops"][op]

    if op.endswith("-error"):
        base_op = op.removesuffix("-error")
        with pytest.raises(JsonLdError) as exc:
            if base_op == "expand":
                expand(doc, options)
            elif base_op == "frame":
                frame(doc, _load(entry["frame"]), options)
            else:
                flatten(doc, None, options)
        # error-code parity with the reference (same comparator as
        # ref tests/test-common.js:797-815 compareExpectedError)
        expect_code = spec.get("error_code")
        if expect_code:
            assert exc.value.code == expect_code, (
                f"code mismatch: ours={exc.value.code!r} "
                f"reference={expect_code!r}")
        return

    if op == "expandEvents":
        # expansionMap event-stream parity: the exact event SEQUENCE
        # must match the reference's (ref lib/jsonld.js:109-117;
        # normalization in testing.event_logging_map / oracle.js)
        from jsonld_js_spark.testing import event_logging_map
        expect = _load(spec["expect"])
        events = []
        options["expansionMap"] = event_logging_map(events)
        got = expand(doc, options)
        assert got == expect["expanded"]
        assert events == expect["events"], (
            f"event stream mismatch:\nmine={json.dumps(events, indent=1)}\n"
            f"ref={json.dumps(expect['events'], indent=1)}")
        return

    if op == "toRDF":
        golden = [quad_from_reference_json(q) for q in _load(spec["expect"])]
        mine = to_rdf(doc, options)
        if "labels-exact" in name:
            # round-3: issued bnode labels are reference-identical,
            # not just bijective — compare raw quads byte-for-byte
            assert sorted(mine) == sorted(golden), (
                json.dumps({"mine": sorted(mine)[:8],
                            "golden": sorted(golden)[:8]}, indent=1))
            return
        res = compare_triple_sets(normalize_quads(mine),
                                  normalize_quads(golden))
        assert res["precision"] == 1.0 and res["recall"] == 1.0, res
        return

    expect = _load(spec["expect"])
    ctx = _load(entry["context"]) if "context" in entry else None
    if op == "expand":
        got = expand(doc, options)
    elif op == "flatten":
        got = flatten(doc, ctx, options)
    elif op == "compact":
        got = compact(doc, ctx, options)
    elif op == "merge":
        got = merge(doc, ctx, options)
    elif op == "frame":
        frame_doc = _load(entry["frame"])
        got = frame(doc, frame_doc, options)
    elif op == "fromRDF":
        from jsonld_js_spark.kernel import from_rdf
        dataset = [quad_from_reference_json(q) for q in doc]
        got = from_rdf(dataset, options)
    else:
        raise AssertionError(f"unknown op {op}")
    assert got == expect, json.dumps(
        {"got": got, "expect": expect}, indent=1, default=str)[:4000]


def _named_files(entry):
    yield f"{entry['name']}-in.json"
    for spec in entry["ops"].values():
        if "expect" in spec:
            yield spec["expect"]
    for key in ("context", "frame", "documents"):
        if key in entry:
            yield entry[key]


def test_manifest_names_every_fixture_once():
    """Every manifest name is unique, every file an entry names exists,
    and every file in tests/fixtures/ is named by an entry."""
    names = [entry["name"] for entry in MANIFEST]
    assert sorted({n for n in names if names.count(n) > 1}) == []
    named = {f for entry in MANIFEST for f in _named_files(entry)}
    on_disk = set(os.listdir(FIXDIR)) - {"manifest.json"}
    assert sorted(named - on_disk) == []
    assert sorted(on_disk - named) == []


def test_aggregate_tordf_pr():
    """North-rule gate: aggregate triple P/R >= 0.95 across all fixtures."""
    tp = mine_n = theirs_n = 0
    for entry in MANIFEST:
        spec = entry["ops"].get("toRDF")
        if not spec:
            continue
        doc = _load(f"{entry['name']}-in.json")
        golden = [quad_from_reference_json(q) for q in _load(spec["expect"])]
        res = compare_triple_sets(
            normalize_quads(to_rdf(doc, _options(entry))),
            normalize_quads(golden))
        tp += res["matched"]
        mine_n += res["mine"]
        theirs_n += res["theirs"]
    precision = tp / mine_n if mine_n else 1.0
    recall = tp / theirs_n if theirs_n else 1.0
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)


def test_compaction_map_hook():
    """compactionMap fires for dropped-null array elements during
    compaction (ref lib/compact.js:77-89); a non-None return replaces
    the dropped value, None keeps the default drop."""
    seen = []

    def cmap(info):
        seen.append((info["unmappedValue"], info["index"]))
        return "kept" if info["index"] == 1 else None

    doc = [{"@id": "http://e.com/a",
            "http://e.com/p": [{"@value": "x"}]}, None, None]
    out = compact(doc, {"@vocab": "http://e.com/"},
                  {"skipExpansion": True, "compactionMap": cmap})
    assert seen == [(None, 1), (None, 2)]
    # index-1 null custom-mapped into the output, index-2 dropped
    assert "kept" in json.dumps(out)
