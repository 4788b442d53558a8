"""The kernel's memos and node-shape plans are pure optimisations, and
its algorithms agree with each other.

- The relation suite over tools/difftest.py's generators: the perf
  options (a shared processed context, cold and hot, against a run that
  bypasses every memo and plan), the expand fixed point, and the
  flatten, fromRDF, compact and preparedFrame relations.
- Every memo that rides a worker-shared context is capped at
  util.MEMO_CAP, and a capped run equals a fresh-context run.
- The kernel path's per-conversation loop equals a bypassed to_rdf on
  transcript rows that miss each fast-path guard.
"""
from __future__ import annotations

import collections
import importlib

import pytest

from tools import difftest

from jsonld_js_spark.kernel import compact, expand, from_rdf, to_rdf
from jsonld_js_spark.pipeline.kernel_path import (
    _conversation_quads, _shared_active_ctx, build_conversation_doc,
)
from jsonld_js_spark.vocab import ENT_NS, TRANSCRIPT_CONTEXT

BYPASS = {"expansionMap": lambda info: None}

# Seeds 0-399 that difftest.EXCLUSIONS' input predicates keep from each
# relation, per generator mode: a predicate that starts to match more or
# fewer inputs changes these.
EXCLUDED = {
    "default": {"expand": 26, "flatten": 62, "fromRDF": 34, "compact": 195},
    "MODE10": {"expand": 30, "flatten": 65, "fromRDF": 38, "compact": 195},
    "UNICODE": {"expand": 21, "flatten": 56, "fromRDF": 31, "compact": 184},
    "DEPTH5": {"expand": 25, "flatten": 61, "fromRDF": 35, "compact": 195},
    "REMOTE": {"expand": 25, "flatten": 60, "fromRDF": 33, "compact": 193},
}


@pytest.mark.parametrize("mode", sorted(difftest.ORACLE_MODES))
def test_perf_options_equal_bypassed_run(mode, monkeypatch):
    """Seeds 0-399 of random_doc in each generator mode, and of
    random_quads in the default mode (it reads no mode), through every
    difftest relation: no divergence outside difftest.PINNED, every
    pinned seed still diverges, most inputs reach each relation, and
    the input predicates exclude the counted seeds."""
    for key, value in difftest.ORACLE_MODES[mode].items():
        monkeypatch.setenv(key, value)
    monkeypatch.setattr(difftest, "UNI", mode == "UNICODE")
    counts: collections.Counter = collections.Counter()
    for seed in range(400):
        for relation, (status, why) in difftest.relations_case(
                seed, quads=mode == "default").items():
            if (mode, relation, seed) in difftest.PINNED:
                assert why is not None, f"pinned {relation} seed {seed} holds"
                status = "xfail"
            else:
                assert why is None, f"{relation} seed {seed}: {why}"
            counts[relation, status.split(":")[0]] += 1
    mode10 = mode == "MODE10"
    assert counts["perf", "checked"] >= (40 if mode10 else 300)
    assert counts["fromRDF", "checked"] >= (40 if mode10 else 250)
    for relation in ("expand", "flatten", "frame") + \
            (("quads",) if mode == "default" else ()):
        assert counts[relation, "checked"] >= 300, relation
    assert counts["compact", "checked"] >= 200
    assert {r: counts[r, "excluded"] for r in EXCLUDED[mode]} == \
        EXCLUDED[mode]


def test_fromrdf_round_trip_with_use_rdf_type():
    """The six-quad dataset (an rdf:type edge and integer, double,
    boolean, langString and date literals) keeps rdf:type as a property
    under useRdfType and round-trips through toRDF."""
    got = from_rdf(difftest.FIXED_QUADS, {"useRdfType": True})
    assert "@type" not in got[0] and difftest.RDF_NS + "type" in got[0]
    assert difftest.round_trip(difftest.FIXED_QUADS, {"useRdfType": True},
                               {}) is None


class _PeakDict(dict):
    """A memo dict that records its largest size."""
    peak = 0

    def __setitem__(self, key, value):
        super().__setitem__(key, value)
        self.peak = max(self.peak, len(self))


def test_context_memos_are_capped(monkeypatch):
    """More distinct property names (through @vocab) and @ids (through
    compaction) than a small MEMO_CAP, through one shared context per
    algorithm: each memo peaks at the cap plus one, and each output
    equals a run on a freshly processed context."""
    from jsonld_js_spark.kernel.api import process_context_api

    cap = 8
    # the package re-exports functions named like these modules
    for name in ("context", "compact", "expand"):
        monkeypatch.setattr(
            importlib.import_module(f"jsonld_js_spark.kernel.{name}"),
            "MEMO_CAP", cap, raising=False)
    ctx = {"@vocab": "http://example.org/v/",
           "knows": {"@id": "http://example.org/v/knows", "@type": "@id"}}
    shared = process_context_api(None, ctx)
    shared_compact = process_context_api(None, ctx)
    memos = {name: shared.setdefault(name, _PeakDict())
             for name in ("_obj_memo", "_val_memo", "_shape_memo")}
    memos["_ci_memo"] = shared_compact.setdefault("_ci_memo", _PeakDict())

    for i in range(4 * cap):
        doc = {"@id": f"http://example.org/n/{i}", f"p{i}": f"v{i}",
               "knows": f"http://example.org/n/{i + 1}"}
        got = expand(doc, {"activeCtx": shared})
        assert got == expand({"@context": ctx, **doc})
        assert to_rdf(doc, {"activeCtx": shared}) == \
            to_rdf({"@context": ctx, **doc})
        assert compact(got, ctx, {"skipExpansion": True,
                                  "activeCompactCtx": shared_compact}) == \
            compact(got, ctx, {"skipExpansion": True})
    for name, memo in memos.items():
        assert cap < memo.peak <= cap + 1, (name, memo.peak)


def _rows(convs):
    """Column lists in _conversation_quads order from
    (conv_id, [(turn_idx, role, text, tool, mention_tails)]) pairs."""
    cols = [[] for _ in range(7)]
    for cid, turns in convs:
        for idx, role, text, tool, tails in turns:
            for col, v in zip(cols, (cid, idx, role, text, tool,
                                     "2026-01-01T00:00:00Z", tails)):
                col.append(v)
    return cols


def _bypassed(convs, doc_transform=None):
    """Per conversation: to_rdf of build_conversation_doc under the
    bypassing expansionMap, on a freshly processed context."""
    out = []
    for cid, turns in convs:
        doc = build_conversation_doc(cid, [
            {"turn_idx": idx, "role": role, "text": text, "tool": tool,
             "ts_lex": "2026-01-01T00:00:00Z",
             "mention_iris": [ENT_NS + "Entity" + d
                              for d in (tails or "").split()]}
            for idx, role, text, tool, tails in turns])
        del doc["@context"]
        if doc_transform is not None:
            doc = doc_transform(doc)
        out.append(to_rdf({"@context": TRANSCRIPT_CONTEXT, **doc}, BYPASS))
    return out


def _guard_misses(doc):
    """Give turn 1 a @reverse and turn 2 an inner @context."""
    turns = doc["hasTurn"]
    if len(turns) > 2:
        turns[1]["@reverse"] = {"hasTurn": {"@id": doc["@id"] + "/other"}}
        turns[2]["@context"] = {"note": "http://example.org/note#"}
        turns[2]["note"] = "scoped"
    return doc


@pytest.mark.parametrize("doc_transform", [None, _guard_misses])
def test_conversation_quads_equal_bypassed_to_rdf(doc_transform):
    convs = [
        # a duplicated turn_idx: the second node meets an existing
        # subject and takes the general merge path
        ("c-dup", [(0, "user", "hi [[Entity1]]", None, "1"),
                   (1, "assistant", "a", "search", ""),
                   (1, "user", "b [[Entity2]]", None, "2"),
                   (2, "user", "c", None, "")]),
        # a mention repeated in one turn, NULL text, no tool, and zero
        # mentions
        ("c-rep", [(0, "user", "[[Entity3]] [[entity3]] [[Entity3]]",
                    "calc", "3 3 3"),
                   (1, "assistant", None, None, None),
                   (2, "user", "no mentions", None, ""),
                   (3, "user", "tool", "web", "")]),
        ("c-long", [(k, "user" if k % 2 else "assistant",
                     f"turn {k} [[Entity{k % 7}]]",
                     "search" if k % 5 == 0 else None, str(k % 7))
                    for k in range(500)]),
    ]
    cols = _rows(convs)
    options = {"activeCtx": _shared_active_ctx(), "skipCopy": True,
               "processingMode": "json-ld-1.1"}
    got = list(_conversation_quads(cols, len(cols[0]), options,
                                   doc_transform, None))
    assert got == _bypassed(convs, doc_transform)
    assert sum(map(len, got)) > 500 * 6
