"""Differential fuzzer: random JSON-LD documents through BOTH the
reference jsonld.js (node oracle harness, batched) and our kernel.

Per document: expand (deep equality; error-code parity), toRDF
(triple P/R modulo bnode bijection must be 1.0/1.0), and
compact(expanded, same context) (deep equality). This complements the
hand-written fixtures: the generator hits keyword/container/coercion
COMBINATIONS nobody thought to write down. Round-1 lesson: fixture
mining found 10+ kernel bugs; this automates the mining.

Usage: python tools/difftest.py [n_docs=200] [seed0=0]
       [--oracle|--fromrdf|--contexts]
`--oracle` needs no reference: it checks the kernel's perf options
against bypassed runs (see run_oracle_sweep).
Exit 1 on any divergence, printing the reproducing document.
"""
from __future__ import annotations

import json
import os
import random
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HARNESS = os.path.join(REPO, "tools", "oracle_harness")
sys.path.insert(0, REPO)

EX = "http://example.com/"
XSD = "http://www.w3.org/2001/XMLSchema#"

TERM_NAMES = ["alpha", "beta", "gamma", "delta", "epsi", "zeta", "id",
              "type", "nested", "lang_t", "list_t", "set_t", "idx_t",
              "rev_t", "json_t", "idmap_t", "typemap_t", "graph_t"]

# DIFFTEST_UNICODE=1: adversarial unicode in IRIs, string values,
# language tags and map keys — exercises N-Quads escaping, JCS @json
# canonicalization, BCP47 case-normalization (language-map keys are
# lowercased in expansion), absolute-IRI/CURIE detection over
# non-ASCII, and JS-vs-Python string equality in node-map merging.
UNI = bool(os.environ.get("DIFFTEST_UNICODE"))
_UNI_STRINGS = [
    "héllo wörld", "é combining", "😀🎉 astral", "日本語テスト",
    "‮bidi‬", "zw‍join", "tab\tnl\nquote\"bs\\",
    "Å vs Å", "Ω≠µ", "bellus", "﷽ rtl ﻼ",
]
_UNI_LANGS = ["eN-Latn-US", "de-419", "en-a-bbb-x-a", "zh-Hant",
              "JA", "und", "en-gb-oed", "123", "en--us", "x-" + "y" * 9]


def _iri(rng):
    if rng.random() < 0.12:
        # exotic absolute IRIs: scheme-only forms, urn/tag/mailto,
        # unicode path — stress absolute-IRI detection, CURIE
        # compaction candidates, and base-relativization roots
        pool = [
            "urn:uuid:0f9e", "tag:ex,2020:t", "mailto:a@b.c",
            "a:", "a:b:c", EX + "%C3%BC/pct", EX + "üni/ß",
        ]
        if UNI:
            pool += ["http://例え.jp/パス", EX + "😀/astral",
                     EX + "é/combining", "urn:uni:✓",
                     EX + "bidi‮", EX + "sp%20ace#日本"]
        return rng.choice(pool)
    return EX + rng.choice(["a", "b", "c", "d", "n1", "n2", "x/y",
                            "frag#z", "px#q", "px#deep/leaf"])


def random_context(rng: random.Random) -> dict:
    ctx: dict = {}
    if rng.random() < 0.5:
        # blank-node @vocab is legal in 1.1: every vocab-mapped term
        # expands to a bnode predicate (dropped by toRDF unless
        # produceGeneralizedRdf — interacts with that fuzz dimension)
        ctx["@vocab"] = EX if rng.random() < 0.92 else "_:vb"
    if rng.random() < 0.3:
        ctx["@base"] = rng.choice(
            ["http://base.org/dir/", "http://base.org/dir/doc", "./"])
    if rng.random() < 0.2:
        ctx["@language"] = rng.choice(
            ["en", "de"] + (_UNI_LANGS if UNI else []))
    if UNI and rng.random() < 0.2:
        # unicode TERM name: term-definition creation, inverse-context
        # compaction candidates and CURIE prefixing over non-ASCII
        ctx["tüerm"] = rng.choice(
            [EX + "tuerm", {"@id": EX + "tuerm", "@prefix": True}])
    if rng.random() < 0.15:
        ctx["id"] = "@id"
    if rng.random() < 0.15:
        ctx["type"] = "@type"
    if rng.random() < 0.1:
        ctx[rng.choice(["graph", "included", "language", "value"])] = \
            rng.choice(["@graph", "@included", "@language", "@value"])
    if rng.random() < 0.08:
        ctx["@version"] = 1.1
    for name in rng.sample(TERM_NAMES[:6], rng.randint(1, 4)):
        if name in ctx:
            continue
        r = rng.random()
        if r < 0.3:
            ctx[name] = EX + name
        else:
            td: dict = {"@id": EX + name}
            tr = rng.random()
            if tr < 0.2:
                td["@type"] = rng.choice(
                    ["@id", "@vocab", XSD + "integer", XSD + "double",
                     XSD + "boolean", "@json"])
            elif tr < 0.35:
                td["@language"] = rng.choice(["en", "fr", None])
            elif tr < 0.45:
                td["@direction"] = rng.choice(["ltr", "rtl", None])
            if rng.random() < 0.35:
                td["@container"] = rng.choice(
                    ["@list", "@set", "@index", "@language",
                     ["@index", "@set"], ["@graph", "@index"], "@id",
                     "@type", ["@language", "@set"], "@graph",
                     ["@graph", "@id"], ["@graph", "@set"],
                     ["@graph", "@index", "@set"],
                     ["@graph", "@id", "@set"],
                     ["@id", "@set"], ["@type", "@set"]])
            ctx[name] = td
    if rng.random() < 0.25:
        ctx["rev_t"] = {"@reverse": EX + "revprop"}
    if rng.random() < 0.2:
        ctx["nested"] = {"@id": EX + "nested",
                         "@context": {"inner": EX + "inner"}}
    if rng.random() < 0.08:
        # property-scoped NULL context: resets to the initial context
        # for the subtree (ref lib/context.js null-reset branch)
        ctx["reset_t"] = {"@id": EX + "reset_t", "@context": None}
    if rng.random() < 0.08:
        # type-scoped context that PROPAGATES (overrides the
        # type-scoped propagate=false default from INSIDE the scoped
        # context)
        ctx["PropType"] = {
            "@id": EX + "PropType",
            "@context": {"@propagate": True, "palpha": EX + "palpha"}}
    if rng.random() < 0.06:
        # explicit @version pin (1.0-mode docs then error:
        # 'processing mode conflict')
        ctx["@version"] = 1.1
    if rng.random() < 0.2:
        # TYPE-scoped context: applies when a node has @type TypedThing
        ctx["TypedThing"] = {
            "@id": EX + "TypedThing",
            "@context": {"scoped": EX + "scoped",
                         "alpha": EX + "scoped-alpha"}}
    if rng.random() < 0.15:
        ctx["meta"] = "@nest"
        ctx["nest_t"] = {"@id": EX + "nest_t", "@nest": "meta"}
    if rng.random() < 0.1:
        ctx["@propagate"] = rng.random() < 0.5
    if rng.random() < 0.12:
        ctx["@direction"] = rng.choice(["ltr", "rtl"])
    if rng.random() < 0.12:
        # prefix term → CURIE expansion + shortest-least CURIE
        # compaction via the fast map
        ctx["px"] = {"@id": EX + "px#", "@prefix": True}
    if rng.random() < 0.1:
        # context-level protection: every term in this context is
        # protected; inline patches then attempt redefinition
        # (error parity: "protected term redefinition")
        ctx["@protected"] = True
    elif rng.random() < 0.08:
        # per-term protection on a term inline patches override
        ctx["alpha"] = {"@id": EX + "alpha", "@protected": True}
    if rng.random() < 0.08:
        # @type coercion @none: value never type-coerced (1.1)
        ctx["none_t"] = {"@id": EX + "none_t", "@type": "@none"}
    if rng.random() < 0.08:
        # property-based index container (1.1): @index names a
        # property the index key expands into
        ctx["pidx_t"] = {"@id": EX + "pidx_t", "@container": "@index",
                         "@index": EX + "idxprop"}
    if rng.random() < 0.1:
        # keyword aliases beyond graph/included/language/value
        ctx[rng.choice(["lst", "st", "rev", "ix", "dirkw", "jsonkw"])] = \
            rng.choice(["@list", "@set", "@reverse", "@index",
                        "@direction", "@json", "@none"])
    if rng.random() < 0.06:
        # colliding aliases: two terms alias @id — compaction must
        # pick deterministically (shortest/least)
        ctx["idA"] = "@id"
        ctx["idB"] = "@id"
    if rng.random() < 0.06:
        # relative @vocab (1.1: resolved against @base or doc base)
        ctx["@vocab"] = rng.choice(["", "#", "./rel#"])
        ctx.setdefault("@base", "http://base.org/dir/doc")
    if rng.random() < 0.05:
        # keyword-lookalike term: reference drops with a warning
        ctx["@futureKeyword"] = EX + "futkw"
    if rng.random() < 0.04:
        # @import/@propagate are keyword-FORM only as @id/@reverse
        # values too (warn + ignore the term, not an error)
        ctx[rng.choice(["termkw1", "termkw2"])] = rng.choice([
            {"@id": "@import"}, {"@id": "@propagate"},
            {"@reverse": "@import"}])
    if rng.random() < 0.08:
        # blank-node-valued term: a _:p predicate is legal in
        # expansion/flatten but only reaches RDF under
        # produceGeneralizedRdf (ref lib/toRdf.js:126)
        ctx["bnp"] = rng.choice(
            ["_:p0", {"@id": "_:p0"},
             {"@id": "_:p0", "@type": "@id"},
             {"@reverse": "_:p1"}])
    return ctx


# numeric edges for @json (JCS shortest-repr) and double/integer
# canonical forms: 2^53 cliff, toFixed 1e21 cliff, negative zero,
# subnormal min, max double, exponent-notation decimals (round-4
# verdict item 7: "numeric-edge @json literals"). Ints beyond 2^53
# are NOT fuzzable this way: JS loses them at JSON.parse, before the
# engine runs, so the two kernels legitimately receive different
# values (Python json preserves big ints — a deliberate data-model
# improvement, not a parity target). 2^53 rides as a float.
_NUM_EDGES = [9007199254740991, 9007199254740992.0, -9007199254740991,
              1e21, 1e-7, -0.0, 0.1, 123456789.123456789, 5e-324,
              1.7976931348623157e308, -2.5e-10, 1e100]


def _scalar(rng):
    if UNI and rng.random() < 0.35:
        u = rng.choice(_UNI_STRINGS)
        return rng.choice([
            u, {"@value": u},
            {"@value": u, "@language": rng.choice(_UNI_LANGS)},
            {"@value": u, "@type": EX + "T"},
            {"@value": u, "@language": rng.choice(_UNI_LANGS),
             "@direction": "rtl"},
        ])
    return rng.choice([
        "plain", 42, -7, True, False, 2.5, 0.1, 1e21, "",
        {"@value": "v", "@language": "en"},
        {"@value": 3, "@type": XSD + "integer"},
        {"@value": "typed", "@type": EX + "T"},
        {"@value": "dv", "@direction": "rtl"},
        {"@value": "dl", "@language": "en", "@direction": "ltr"},
        rng.choice(_NUM_EDGES),
        {"@value": rng.choice(_NUM_EDGES)},
    ])


def _container_value(rng, container, depth):
    c = container if isinstance(container, list) else [container]
    if "@language" in c:
        keys = ["en", "de", "@none"]
        if UNI:
            # language-map keys are case-normalized in expansion;
            # malformed tags warn-and-keep — both must match the
            # reference byte-for-byte
            keys += ["EN", "eN-LaTn", "de-419", "123"]
        return {rng.choice(keys): rng.choice(["x", ["y", "z"]])}
    if "@index" in c:
        keys = ["k0", "k1", "@none"]
        if UNI:
            keys += ["ключ", "日本語", "k é"]
        return {rng.choice(keys): random_value(rng, depth)}
    if "@id" in c:
        return {rng.choice([EX + "i1", "rel-i", "@none"]):
                random_node(rng, depth)}
    if "@type" in c:
        return {rng.choice(["T1", EX + "T2", "@none"]):
                random_node(rng, depth)}
    if "@graph" in c and rng.random() < 0.6:
        # graph-SHAPED values stress the unconditional simple-@graph
        # double-wrap (lib/expand.js:844-848) vs the guarded map path
        # (:1090) — fuzz seed 15600531's class
        v = {"@graph": [random_node(rng, depth)]}
        if rng.random() < 0.6:
            v["@id"] = _iri(rng)
        if rng.random() < 0.3:
            v["@index"] = "gix"
        return v
    if "@list" in c or "@set" in c:
        return [random_value(rng, depth) for _ in range(rng.randint(0, 3))]
    return random_value(rng, depth)


def random_value(rng, depth):
    r = rng.random()
    if depth <= 0 or r < 0.55:
        return _scalar(rng)
    if r < 0.7:
        return random_node(rng, depth - 1)
    if r < 0.8:
        if rng.random() < 0.2:
            # list of lists (JSON-LD 1.1)
            return {"@list": [{"@list": [_scalar(rng) for _ in
                                         range(rng.randint(0, 2))]}]}
        return {"@list": [_scalar(rng) for _ in range(rng.randint(0, 3))]}
    return [random_value(rng, depth - 1) for _ in range(rng.randint(1, 3))]


INLINE_CTX_PATCHES = [
    {"@vocab": "http://other.org/"},
    {"alpha": "http://other.org/alpha-override"},
    {"@language": "fr"},
    {"@language": None},
    None,  # context reset
    {"@base": "http://inner.org/base/"},
    {"zeta": None},  # term removal
    [{"@vocab": "http://other.org/"}, {"beta": "http://other.org/b"}],
    # protected-redefinition attempts (error iff outer ctx protects):
    {"alpha": EX + "alpha"},  # same-definition no-op redefinition
    {"@protected": True, "newp": EX + "newp"},
    # 1.1 override escape hatch: null reset is an error under
    # protection unless the nulling context is exactly {"@protected"..}
    {"alpha": {"@id": EX + "alpha-2", "@protected": True}},
]


def random_node(rng, depth) -> dict:
    node: dict = {}
    if depth < 2 and rng.random() < 0.18:
        # inline node-level @context (propagation machinery stress)
        node["@context"] = rng.choice(INLINE_CTX_PATCHES)
    r = rng.random()
    if r < 0.5:
        node["@id"] = _iri(rng)
    elif r < 0.65:
        node["@id"] = rng.choice(["relative-x", "_:bn" + str(rng.randint(0, 2))])
    if rng.random() < 0.4:
        t = rng.choice(["alpha", EX + "Type", "relType", "TypedThing",
                        "PropType"])
        node["@type"] = [t, EX + "T2"] if rng.random() < 0.3 else t
    if rng.random() < 0.12:
        node["meta"] = rng.choice([
            {"nest_t": "nested-v", "scoped": "sv"},
            # nested @nest (ref lib/expand.js:894-916 recursion),
            # array-of-nests, and the @value-in-nest error path
            {"meta": {"nest_t": "deep-nested"}, "nest_t": "shallow"},
            [{"nest_t": "a"}, {"nest_t": "b", "scoped": "sv"}],
            {"@value": "bad-nest"},
            {"nested": {"meta": {"nest_t": "inner"}}},
        ])
    for name in rng.sample(TERM_NAMES, rng.randint(1, 4)):
        if name in ("id", "type"):
            continue
        if rng.random() < 0.75:
            node[name] = random_value(rng, depth)
    if depth > 0 and rng.random() < 0.15:
        node["@graph"] = [random_node(rng, depth - 1)]
    if depth > 0 and rng.random() < 0.08:
        node["@included"] = [random_node(rng, 0)]
    if depth > 0 and rng.random() < 0.08:
        node["@reverse"] = {rng.choice(["gamma", EX + "rp"]):
                            random_node(rng, 0)}
    if rng.random() < 0.1:
        node["@index"] = "íx☺" if UNI and rng.random() < 0.4 else "ix"
    if UNI and rng.random() < 0.15:
        # unicode property used directly (vocab-mapped or dropped)
        node["tüerm"] = random_value(rng, 0)
    if rng.random() < 0.06:
        # keyword-FORM @-words: @import/@propagate are NOT in the
        # reference's isKeyword switch (dropped with a warning), and
        # unknown @-words take the same keyword-pattern path
        node[rng.choice(["@import", "@propagate", "@futureKeyword"])] = \
            rng.choice(["v", True, {"@id": EX + "x"}])
    return node


REMOTE_CTX_URL = "http://remote.test/ctx1"
REMOTE_CTX_URL2 = "http://remote.test/ctx2"
REMOTE_DOCS = {
    REMOTE_CTX_URL: {"@context": {"remote_t": EX + "remote_t",
                                  "gamma": EX + "remote-gamma"}},
    REMOTE_CTX_URL2: {"@context": {"@vocab": "http://remote.org/",
                                   "imported_t": EX + "imported_t"}},
}


def random_doc(seed: int):
    rng = random.Random(seed)
    ctx = random_context(rng)
    node = random_node(rng, int(os.environ.get("DIFFTEST_DEPTH", "2")))
    # container-typed terms get container-shaped values half the time
    for name, td in ctx.items():
        if isinstance(td, dict) and "@container" in td and \
                name in node and rng.random() < 0.6:
            node[name] = _container_value(rng, td["@container"], 1)
    # exercise this context's special terms when present
    if "none_t" in ctx and rng.random() < 0.8:
        node["none_t"] = rng.choice([EX + "ref", "rel-ref", 42])
    if "pidx_t" in ctx and rng.random() < 0.8:
        node["pidx_t"] = {"k0": random_node(rng, 0),
                          "k1": {"@id": EX + "pv"}}
    for alias in ("lst", "st", "rev", "ix", "dirkw", "jsonkw"):
        if alias in ctx and rng.random() < 0.6:
            kw = ctx[alias]
            if kw == "@list":
                node["alpha"] = {alias: [_scalar(rng)]}
            elif kw == "@set":
                node["alpha"] = {alias: [_scalar(rng), _scalar(rng)]}
            elif kw == "@reverse":
                node[alias] = {"gamma": random_node(rng, 0)}
            elif kw == "@index":
                node[alias] = "ixval"
            elif kw == "@direction":
                node["alpha"] = {"@value": "dv", alias: "rtl"}
            elif kw == "@json":
                node["alpha"] = {"@value": rng.choice([
                    {"j": [1, None]},
                    # numeric-edge JSON literals: JCS number
                    # serialization must match npm canonicalize
                    {"n": rng.sample(_NUM_EDGES, 3)},
                    list(_NUM_EDGES[:6]),
                    rng.choice(_NUM_EDGES),
                ]), "@type": alias}
    if "bnp" in ctx and rng.random() < 0.8:
        node["bnp"] = rng.choice(["bv", {"@id": EX + "bo"},
                                  {"@id": "_:bo1"}, [1, "two"]])
    if rng.random() < 0.1:
        node[rng.choice(["alpha", "beta"])] = None  # null-valued prop drop
    if rng.random() < 0.05:
        node["@futureKeyword"] = "fkv"
    documents = None
    if os.environ.get("DIFFTEST_REMOTE") and rng.random() < 0.5:
        documents = REMOTE_DOCS
        r = rng.random()
        if r < 0.4:
            ctx = [REMOTE_CTX_URL, ctx]
        elif r < 0.7:
            ctx = dict(ctx)
            ctx["@import"] = REMOTE_CTX_URL2
        else:
            ctx = [REMOTE_CTX_URL, REMOTE_CTX_URL2, ctx]
        node["remote_t"] = "rv"
        node["imported_t"] = "iv"
    doc = {"@context": ctx, **node}
    if rng.random() < 0.07:
        # top-level ARRAY document (jsonld.expand([...]) surface):
        # each element carries its own context
        sibling = {"@context": dict(ctx) if isinstance(ctx, dict) else ctx,
                   "@id": EX + "sibling",
                   "alpha": rng.choice(["sv", 7, {"@id": EX + "sref"}])}
        return [doc, sibling], documents
    return doc, documents


# ---------------------------------------------------------------------------

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD_TYPES = ["string", "integer", "double", "boolean", "dateTime"]


def random_quads(seed: int):
    """Random RDF dataset exercising fromRDF: typed/lang literals,
    JSON literals, rdf:type edges, well-formed and CORRUPTED
    rdf:first/rest list chains, shared references, named graphs.
    Returns (reference-JSON quads, kernel tuples, options)."""
    rng = random.Random(seed * 7 + 3)
    quads = []

    def iri(n):
        return EX + n

    def lit(rng):
        r = rng.random()
        if r < 0.3:
            return (rng.choice(["v", "", "true", "42", "junk"]),
                    XSD + rng.choice(XSD_TYPES), None)
        if r < 0.45:
            return (rng.choice([
                str(rng.randint(-5, 5)),
                # useNativeTypes edges: >= 2^53 round-trips, radix
                # strings, underscores, 1e21 toFixed cliff
                "9007199254740992", "9007199254740993",
                "1180591620717411303424", "1000000000000000000000",
                "0x10", "0b101", "1_0", "+42", "-0",
            ]), XSD + "integer", None)
        if r < 0.55:
            return (rng.choice(["2.5E0", "NaN", "abc", "0x10", "0b101",
                                "1_0", "Infinity", " 42"]),
                    XSD + "double", None)
        if r < 0.65:
            return (rng.choice(["true", "false", "yes"]), XSD + "boolean",
                    None)
        if r < 0.75:
            return ("hello", RDF_NS + "langString",
                    rng.choice(["en", "DE-de"]))
        if r < 0.85:
            return (rng.choice(['{"a":1}', '[1,2]', 'bogus']),
                    RDF_NS + "JSON", None)
        if r < 0.92:
            # i18n direction-encoded literal (decoded only under
            # rdfDirection=i18n-datatype)
            return ("dirv", "https://www.w3.org/ns/i18n#" +
                    rng.choice(["en_ltr", "ar_rtl", "_rtl", "en_",
                                "EN-latn_ltr"]), None)
        return ("plain", XSD + "string", None)

    def obj(rng):
        r = rng.random()
        if r < 0.35:
            return ("NamedNode", iri(rng.choice("abcd")), None, None)
        if r < 0.5:
            return ("BlankNode", "_:b" + str(rng.randint(0, 4)), None, None)
        value, dt, lang = lit(rng)
        return ("Literal", value, dt, lang)

    graphs = ["", iri("g1"), "_:bg"]
    n = rng.randint(3, 10)
    for _ in range(n):
        g = rng.choice(graphs) if rng.random() < 0.3 else ""
        s = rng.choice([iri(rng.choice("abcd")),
                        "_:b" + str(rng.randint(0, 4))])
        if rng.random() < 0.2:
            # rdf:type objects: named types and BLANK-node types (both
            # legal; fromRDF emits "@type": "_:bN" for the latter)
            p, (tt, v, dt, lang) = RDF_NS + "type", (
                ("NamedNode", iri(rng.choice(["T", "U"])), None, None)
                if rng.random() < 0.8 else
                ("BlankNode", "_:bt" + str(rng.randint(0, 1)), None, None))
        else:
            # occasional blank-node predicate: generalized-RDF input —
            # fromRDF folds it like any property (ref lib/fromRdf.js
            # has no predicate-kind filter)
            p = ("_:bp" + str(rng.randint(0, 1))
                 if rng.random() < 0.08 else
                 iri("p" + str(rng.randint(0, 3))))
            tt, v, dt, lang = obj(rng)
        quads.append((s, p, v, tt, dt, lang, g))

    # list chain, possibly corrupted
    if rng.random() < 0.8:
        cells = ["_:l" + str(i) for i in range(rng.randint(1, 4))]
        g = ""
        quads.append((iri("a"), iri("plist"), cells[0], "BlankNode",
                      None, None, g))
        for i, c in enumerate(cells):
            first_tt, first_v, first_dt, first_lang = obj(rng) \
                if rng.random() < 0.4 else (
                    "Literal", str(i), XSD + "integer", None)
            quads.append((c, RDF_NS + "first", first_v, first_tt,
                          first_dt, first_lang, g))
            rest = cells[i + 1] if i + 1 < len(cells) else RDF_NS + "nil"
            quads.append((c, RDF_NS + "rest", rest,
                          "BlankNode" if rest.startswith("_:")
                          else "NamedNode", None, None, g))
        r = rng.random()
        if r < 0.25:
            # corrupt: extra reference into the middle of the chain
            quads.append((iri("b"), iri("pref"), cells[-1], "BlankNode",
                          None, None, g))
        elif r < 0.4 and len(cells) > 1:
            # corrupt: duplicate rdf:first on a cell
            quads.append((cells[0], RDF_NS + "first", "dup", "Literal",
                          XSD + "string", None, g))

    seen = set()
    deduped = []
    for q in quads:
        if q not in seen:
            seen.add(q)
            deduped.append(q)

    def term(tt, v, dt=None, lang=None):
        t = {"termType": tt, "value": v}
        if tt == "Literal":
            t["datatype"] = {"termType": "NamedNode",
                             "value": dt or XSD + "string"}
            if lang:
                t["language"] = lang
        return t

    ref_quads = []
    for s, p, v, tt, dt, lang, g in deduped:
        ref_quads.append({
            "subject": term("BlankNode" if s.startswith("_:")
                            else "NamedNode", s),
            "predicate": term("NamedNode", p),
            "object": term(tt, v, dt, lang),
            "graph": ({"termType": "DefaultGraph", "value": ""} if g == ""
                      else term("BlankNode" if g.startswith("_:")
                                else "NamedNode", g)),
        })
    opts = {}
    if rng.random() < 0.5:
        opts["useNativeTypes"] = True
    if rng.random() < 0.2:
        opts["useRdfType"] = True
    if rng.random() < 0.3 or os.environ.get("DIFFTEST_RDFDIR"):
        opts["rdfDirection"] = "i18n-datatype"
    return ref_quads, deduped, opts


def random_adversarial_context(seed: int):
    """Random context built from valid AND invalid term-definition
    fragments — stress for createTermDefinition's validation paths
    (ref lib/context.js:437-940) with error-code parity."""
    rng = random.Random(seed * 13 + 11)
    ctx: dict = {}
    if rng.random() < 0.4:
        ctx["@vocab"] = rng.choice([EX, "", "./", None, 5])
    if rng.random() < 0.25:
        ctx["@language"] = rng.choice(["en", "", None, 7, "EN-latn-us"])
    if rng.random() < 0.2:
        ctx["@version"] = rng.choice([1.1, 1.0, "1.1", 2])
    if rng.random() < 0.15:
        ctx["@propagate"] = rng.choice([True, False, "yes"])
    fragments = [
        ("t1", EX + "t1"),
        ("t2", {"@id": EX + "t2", "@prefix": rng.choice([True, False, "x"])}),
        ("t3", {"@id": rng.choice([EX + "t3", None, 5, "@kw"]),
                "@type": rng.choice(["@id", "@vocab", "@json", "@none",
                                     XSD + "integer", "_:b0", 5, "rel"])}),
        ("t4", {"@container": rng.choice(
            ["@list", "@set", ["@list", "@set"], ["@graph", "@list"],
             "@index", ["@index", "@id"], "@unknown", 5,
             ["@type"], ["@type", "@set"]])}),
        ("t5", {"@reverse": rng.choice(
            [EX + "rev", "@id", 5]),
            **({"@container": rng.choice(["@set", "@list", "@index"])}
               if rng.random() < 0.5 else {})}),
        ("t6", {"@id": EX + "t6",
                "@language": rng.choice(["en", None, 5]),
                **({"@direction": rng.choice(["ltr", "rtl", "up", None])}
                   if rng.random() < 0.5 else {})}),
        ("t7", {"@id": EX + "t7", "@nest": rng.choice(
            ["@nest", "meta", "@id", 5])}),
        ("t8", {"@id": EX + "t8",
                "@index": rng.choice(["k", "@bad", 5]),
                **({"@container": "@index"} if rng.random() < 0.6 else {})}),
        ("@type", rng.choice([{"@container": "@set"},
                              {"@container": "@list"},
                              {"@protected": True},
                              EX + "alias-target"])),
        ("", EX + "empty-term"),
        ("t9", rng.choice([True, 5, []])),
        ("pref", {"@id": EX + "p#", "@prefix": True}),
        ("pref:suf", {"@id": EX + "other"}),
    ]
    for name, frag in rng.sample(fragments, rng.randint(1, 5)):
        ctx[name] = frag
    if rng.random() < 0.3:
        ctx = [{"@protected": rng.random() < 0.5, "tp": EX + "tp"}, ctx]
    doc = {"@context": ctx,
           "t1": "v", "t3": "w", "t4": ["a", "b"],
           "pref:x": "y", "tp": "z"}
    opts = {}
    if rng.random() < 0.2 or os.environ.get("DIFFTEST_MODE10"):
        opts["processingMode"] = "json-ld-1.0"
    return doc, opts


def run_context_sweep(n_docs: int, seed0: int) -> int:
    from jsonld_js_spark.kernel import JsonLdError, expand
    mismatches = 0
    batch = 50
    for start in range(0, n_docs, batch):
        seeds = list(range(seed0 + start, seed0 + min(start + batch, n_docs)))
        cases = [random_adversarial_context(s) for s in seeds]
        refs = run_reference_batch([
            {"op": "expand", "input": doc, "options": opts}
            for doc, opts in cases])
        for seed, (doc, opts), ref in zip(seeds, cases, refs):
            try:
                mine = {"ok": True, "result": expand(doc, dict(opts))}
            except JsonLdError as e:
                mine = {"ok": False, "code": e.code}
            except Exception as e:
                mine = {"ok": False, "code": f"INTERNAL:{type(e).__name__}"}
            if not ref["ok"] and ref.get("code") is None:
                continue  # reference internal crash — undefined behavior
            if ref["ok"] != mine["ok"] or \
                    (ref["ok"] and ref["result"] != mine["result"]):
                mismatches += 1
                print(f"== CTX MISMATCH seed={seed}: ref={str(ref)[:400]}\n"
                      f"   mine={str(mine)[:400]}\n"
                      f"   doc: {json.dumps(doc, sort_keys=True)[:800]}")
            elif not ref["ok"] and ref.get("code") != mine.get("code"):
                # both raised — codes can differ when multiple invalid
                # fragments race and the engines validate in different
                # orders; informational only
                print(f"  (code-diff seed={seed}: ref={ref.get('code')!r} "
                      f"mine={mine.get('code')!r})")
        print(f"  [{min(start + batch, n_docs)}/{n_docs}] "
              f"ctx mismatches={mismatches}")
    print("DIFFTEST-CTX", "FAIL" if mismatches else "OK",
          f"cases={n_docs} mismatches={mismatches}")
    return 1 if mismatches else 0


def run_fromrdf_sweep(n_docs: int, seed0: int) -> int:
    from jsonld_js_spark.kernel import JsonLdError, from_rdf
    mismatches = 0
    batch = 50
    for start in range(0, n_docs, batch):
        seeds = list(range(seed0 + start, seed0 + min(start + batch, n_docs)))
        cases = [random_quads(s) for s in seeds]
        refs = run_reference_batch([
            {"op": "fromRDF", "input": rq, "options": opts}
            for rq, _, opts in cases])
        for seed, (rq, tuples, opts), ref in zip(seeds, cases, refs):
            try:
                mine = {"ok": True, "result": from_rdf(tuples, dict(opts))}
            except JsonLdError as e:
                mine = {"ok": False, "code": e.code}
            if ref["ok"] != mine["ok"]:
                if not ref["ok"] and ref.get("code") is None:
                    continue  # reference internal crash — undefined
                mismatches += 1
                print(f"== FROMRDF MISMATCH seed={seed}: ok "
                      f"ref={str(ref)[:300]} mine={str(mine)[:300]}")
            elif ref["ok"] and ref["result"] != mine["result"]:
                mismatches += 1
                print(f"== FROMRDF MISMATCH seed={seed}:\nref ="
                      f"{json.dumps(ref['result'], sort_keys=True)[:1200]}"
                      f"\nmine="
                      f"{json.dumps(mine['result'], sort_keys=True)[:1200]}")
                print("   quads:", json.dumps(tuples)[:1200])
        print(f"  [{min(start + batch, n_docs)}/{n_docs}] "
              f"fromRDF mismatches={mismatches}")
    print("DIFFTEST-FROMRDF", "FAIL" if mismatches else "OK",
          f"cases={n_docs} mismatches={mismatches}")
    return 1 if mismatches else 0


# --- reference-free purity oracle -------------------------------------------

# the reference-free relation runs every old DIFFTEST_* mode in turn
ORACLE_MODES = {
    "default": {},
    "MODE10": {"DIFFTEST_MODE10": "1"},
    "UNICODE": {"DIFFTEST_UNICODE": "1"},
    "DEPTH5": {"DIFFTEST_DEPTH": "5"},
}


def _outcome(fn):
    """fn()'s result as comparable JSON text, or its error code; an
    internal crash (the GIGO parity TypeErrors) by its type, as in
    run_mine."""
    from jsonld_js_spark.kernel import JsonLdError
    try:
        return "ok", json.dumps(fn(), sort_keys=True, default=repr)
    except JsonLdError as e:
        return "error", e.code
    except RecursionError:
        return "error", "recursion"
    except Exception as e:
        return "error", f"INTERNAL:{type(e).__name__}"


def purity_case(seed: int) -> tuple[str, str | None]:
    """The perf-option relation on random_doc(seed): the document's
    context is processed once, then expand and to_rdf run cold and hot
    on that shared activeCtx. Each must equal the same call under a
    no-op expansionMap, which bypasses every memo and plan (an
    expansionMap returning None keeps the default behaviour). Returns
    (status, divergence): status is "checked", or "no-context" (a
    top-level array document) or "context-error" (the context does not
    process), where the whole document goes through the plain calls
    instead; divergence is None when every side agrees."""
    from jsonld_js_spark.kernel import ContextResolver, expand, to_rdf
    from jsonld_js_spark.kernel.api import process_context_api
    doc, documents = random_doc(seed)
    opts: dict = {}
    if seed % 13 == 0 or os.environ.get("DIFFTEST_MODE10"):
        opts["processingMode"] = "json-ld-1.0"
    if seed % 8 == 1:
        opts["base"] = "http://base.org/dir/doc"
    if documents:
        opts["contextResolver"] = ContextResolver(documents=documents)
    bypass = dict(opts, expansionMap=lambda info: None)

    def relation(body, plain, bypassed):
        want = [_outcome(lambda: expand(body, dict(bypassed))),
                _outcome(lambda: to_rdf(body, dict(bypassed)))]
        for run in ("cold", "hot"):
            got = [_outcome(lambda: expand(body, dict(plain))),
                   _outcome(lambda: to_rdf(body, dict(plain)))]
            for op, g, w in zip(("expand", "toRDF"), got, want):
                if g != w:
                    return f"{op} {run}: {g[1][:600]}\n  bypassed: " \
                           f"{w[1][:600]}"
        return None

    if not isinstance(doc, dict) or "@context" not in doc:
        return "no-context", relation(doc, opts, bypass)
    try:
        ctx = process_context_api(None, doc["@context"], dict(opts))
    except Exception:  # compared by the relation on the whole document
        return "context-error", relation(doc, opts, bypass)
    body = {k: v for k, v in doc.items() if k != "@context"}
    bypass_ctx = process_context_api(None, doc["@context"], dict(bypass))
    return "checked", relation(body, dict(opts, activeCtx=ctx),
                               dict(bypass, activeCtx=bypass_ctx))


def run_oracle_sweep(n_docs: int, seed0: int) -> int:
    """Reference-free mode: the purity relation over n_docs seeds in
    each ORACLE_MODES mode. Exit status 1 on any divergence, printing
    the document."""
    global UNI
    failed = 0
    for mode, env in ORACLE_MODES.items():
        saved = {k: os.environ.get(k) for k in env}
        os.environ.update(env)
        UNI = bool(os.environ.get("DIFFTEST_UNICODE"))
        counts: dict = {}
        bad = 0
        try:
            for seed in range(seed0, seed0 + n_docs):
                status, why = purity_case(seed)
                counts[status] = counts.get(status, 0) + 1
                if why is not None:
                    bad += 1
                    print(f"== ORACLE DIVERGENCE mode={mode} seed={seed}: "
                          f"{why}")
                    print("   doc:", json.dumps(random_doc(seed)[0],
                                                sort_keys=True)[:2000])
        finally:
            for k, v in saved.items():
                if v is None:
                    os.environ.pop(k, None)
                else:
                    os.environ[k] = v
            UNI = bool(os.environ.get("DIFFTEST_UNICODE"))
        failed += bad
        print(f"ORACLE {mode}: seeds={n_docs} divergences={bad} "
              + " ".join(f"{k}={v}" for k, v in sorted(counts.items())))
    print("DIFFTEST-ORACLE", "FAIL" if failed else "OK",
          f"divergences={failed}")
    return 1 if failed else 0


def run_reference_batch(requests: list[dict]) -> list[dict]:
    env = dict(os.environ, NODE_PATH=os.path.join(HARNESS, "node_modules"))
    out = subprocess.run(
        ["node", os.path.join(HARNESS, "oracle.js"), "/dev/stdin"],
        input=json.dumps({"op": "batch", "requests": requests}),
        capture_output=True, text=True, env=env, timeout=300)
    if out.returncode != 0:
        raise RuntimeError(f"harness failed: {out.stderr[-2000:]}")
    return json.loads(out.stdout)["results"]


def random_frame(seed: int, doc: dict) -> dict:
    rng = random.Random(seed * 31 + 7)
    ctx = (doc.get("@context") if isinstance(doc, dict)
           else doc[0].get("@context")) or {}
    frame: dict = {"@context": ctx}
    terms = [k for k in ctx
             if isinstance(k, str) and not k.startswith("@")]
    r = rng.random()
    if r < 0.35:
        frame["@type"] = rng.choice(terms + [EX + "Type", "relType"]) \
            if terms else EX + "Type"
    elif r < 0.8 and terms:
        sub: dict = {}
        sr = rng.random()
        if sr < 0.3 and len(terms) > 1:
            # nested sub-frame: embed recursion + per-level flags
            sub[rng.choice(terms)] = {}
        elif sr < 0.45:
            sub["@embed"] = rng.choice(["@never", "@always"])
        elif sr < 0.55:
            sub["@explicit"] = True
        elif sr < 0.7:
            # VALUE patterns (ref lib/frame.js _valueMatch): exact,
            # disjunction, wildcard-{} value with @language/@type
            # constraints, match-none []
            sub = rng.choice([
                {"@value": "plain"},
                {"@value": [42, "plain", True]},
                {"@value": {}, "@language": ["en"]},
                {"@value": {}, "@type": [XSD + "integer"]},
                {"@value": [], "@language": []},
            ])
        frame[rng.choice(terms)] = sub
    if r >= 0.8 and terms and rng.random() < 0.5:
        # property sub-frame with @default (filled when absent,
        # cleaned by the @default/@preserve/@null pass)
        frame[rng.choice(terms)] = {"@default": rng.choice(["dflt", 7])}
    if rng.random() < 0.15:
        # @id match patterns: single, disjunction, match-none []
        frame["@id"] = rng.choice(
            [EX + "c", [EX + "c", EX + "z"], []])
    if rng.random() < 0.3:
        frame["@explicit"] = rng.random() < 0.5
    if rng.random() < 0.25:
        frame["@requireAll"] = rng.random() < 0.5
    if rng.random() < 0.25:
        # includes the LEGACY embed flavors (@first/@last, boolean)
        frame["@embed"] = rng.choice(["@once", "@always", "@never",
                                      "@first", "@last", True, False])
    if rng.random() < 0.15:
        # @graph sub-frame: drives the graph-name recursion's subframe
        # selection (ref lib/frame.js:175-193; a non-object subframe
        # falls back to {})
        frame["@graph"] = [rng.choice([{}, {"@embed": "@never"},
                                       {"@explicit": True}, "bogus"])]
    return frame


def _frame_opts(seed: int, base: dict) -> dict:
    """Per-seed framing-option variation (both engines get the same)."""
    o = dict(base)
    if seed % 9 == 4:
        o["omitGraph"] = False
    if seed % 11 == 7:
        o["omitDefault"] = True
    # API-level flag DEFAULTS (ref lib/jsonld.js:431-436) — frames
    # without explicit @embed/@explicit/@requireAll inherit these
    # NOT '@link': linked output is circular and cannot JSON-serialize
    # through the node harness
    if seed % 7 == 2:
        o["embed"] = rng_choice(seed, ["@always", "@never"])
    if seed % 13 == 5:
        o["explicit"] = True
    if seed % 17 == 3:
        o["requireAll"] = True
    return o


def rng_choice(seed, items):
    return items[(seed * 2654435761) % len(items)]


def run_mine(op: str, doc, context=None, documents=None, options=None):
    from jsonld_js_spark.kernel import (
        ContextResolver, JsonLdError, compact, expand, flatten, frame,
        to_rdf,
    )
    from jsonld_js_spark.testing import event_logging_map
    opts: dict = dict(options or {})
    if documents:
        opts["contextResolver"] = ContextResolver(documents=documents)
    try:
        if op == "expandEvents":
            events = []
            expanded = expand(doc, {**opts, "expansionMap":
                                    event_logging_map(events)})
            return {"ok": True,
                    "result": {"expanded": expanded, "events": events}}
        if op == "expand":
            return {"ok": True, "result": expand(doc, dict(opts))}
        if op == "toRDF":
            return {"ok": True, "result": to_rdf(doc, dict(opts))}
        if op == "compact":
            return {"ok": True, "result": compact(doc, context,
                                                  dict(opts))}
        if op == "flatten":
            return {"ok": True, "result": flatten(doc, context,
                                                  dict(opts))}
        if op == "frame":
            return {"ok": True, "result": frame(doc, context, dict(opts))}
        if op == "merge":
            from jsonld_js_spark.kernel import merge
            return {"ok": True, "result": merge(doc, context, dict(opts))}
        raise AssertionError(op)
    except JsonLdError as e:
        return {"ok": False, "code": e.code}
    except RecursionError:
        return {"ok": False, "code": "recursion"}
    except Exception as e:
        # internal crash — only comparable against a reference internal
        # crash (both engines fall over on the same degenerate input,
        # e.g. relabelled @reverse maps); surfaces as ok-mismatch when
        # the reference succeeds
        return {"ok": False, "code": f"INTERNAL:{type(e).__name__}"}


def compare_tordf(mine_quads, ref_json_quads):
    from jsonld_js_spark.testing import (
        compare_triple_sets, normalize_quads, quad_from_reference_json,
    )

    def sanitize(quads):
        # degenerate inputs make BOTH engines emit non-scalar literal
        # components (e.g. an array datatype from a malformed value
        # object — verified identical in the reference); stringify so
        # the set comparison still works
        return [tuple(json.dumps(c, sort_keys=True)
                      if isinstance(c, (list, dict)) else c for c in q)
                for q in quads]

    golden = [quad_from_reference_json(q) for q in ref_json_quads]
    res = compare_triple_sets(normalize_quads(sanitize(mine_quads)),
                              normalize_quads(sanitize(golden)))
    return res["precision"] == 1.0 and res["recall"] == 1.0, res


def main(n_docs: int, seed0: int) -> int:
    mismatches = 0
    batch = 50
    for start in range(0, n_docs, batch):
        seeds = list(range(seed0 + start, seed0 + min(start + batch, n_docs)))
        cases = [random_doc(s) for s in seeds]
        docs = [c[0] for c in cases]
        docmaps = [c[1] for c in cases]
        frames = [random_frame(s, d) for s, d in zip(seeds, docs)]
        # every 13th seed runs in json-ld-1.0 processing mode (1.1
        # features must raise with reference-identical error codes);
        # every 8th gets an explicit API `base` (relative-IRI
        # resolution + compactToRelative interplay)
        def _base_opts(s):
            o = {}
            if s % 13 == 0 or os.environ.get("DIFFTEST_MODE10"):
                # DIFFTEST_MODE10=1 forces 1.0 mode on EVERY seed —
                # the 1.0 keyword gates interact with reverts/scoped
                # contexts (seed 25500111's class) far more densely
                # than the 1-in-13 default
                o["processingMode"] = "json-ld-1.0"
            if s % 8 == 1:
                o["base"] = "http://base.org/dir/doc"
            return o
        opts_for = {s: _base_opts(s) for s in seeds}

        # every 6th seed expands through an API expandContext (applied
        # to the expand op only — both engines process it before the
        # document's own context)
        def _e_opts(s, base):
            o = dict(base)
            if s % 6 == 1:
                o["expandContext"] = (
                    {"@context": {"ectx_t": EX + "from-expand-context",
                                  "gamma": EX + "ectx-gamma"}}
                    if s % 12 == 1 else
                    {"@vocab": "http://expandctx.org/"})
            return o

        # every 10th seed serializes direction-tagged literals via
        # rdfDirection=i18n-datatype (DIFFTEST_RDFDIR=1 forces it on
        # EVERY seed — the direction gates compound with container/
        # value rules far more densely than the 1-in-10 default)
        def _rdf_opts(s, base):
            o = dict(base)
            if s % 10 == 6 or os.environ.get("DIFFTEST_RDFDIR"):
                o["rdfDirection"] = "i18n-datatype"
            if s % 14 == 9:
                # blank-node predicates survive toRDF (ref
                # lib/toRdf.js:126)
                o["produceGeneralizedRdf"] = True
            return o

        # per-seed compact-option variation (singleton-array
        # preservation and top-level @graph wrapping interact with
        # every container/selection rule)
        def _c_opts(s, base):
            o = dict(base)
            if s % 7 == 3:
                o["compactArrays"] = False
            if s % 11 == 5:
                o["graph"] = True
            if s % 16 == 1:
                # only observable with a base set (s % 8 == 1 seeds)
                o["compactToRelative"] = False
            return o

        # every 5th seed flattens WITH the doc's context (flatten then
        # compacts the node map through the compaction engine)
        def _fl_ctx(s, d):
            if s % 5 != 2:
                return None
            return (d.get("@context") or {}) if isinstance(d, dict) \
                else (d[0].get("@context") or {})
        reqs = []
        for s, d, fr, dm in zip(seeds, docs, frames, docmaps):
            extra = {"documents": dm} if dm else {}
            o = opts_for[s]
            reqs.append({"op": "expand", "input": d,
                         "options": _e_opts(s, o), **extra})
            reqs.append({"op": "toRDF", "input": d,
                         "options": _rdf_opts(s, o), **extra})
            d_ctx = (d.get("@context") or {}) if isinstance(d, dict) \
                else (d[0].get("@context") or {})
            reqs.append({"op": "compact", "input": d,
                         "context": d_ctx,
                         "options": _c_opts(s, o), **extra})
            fl_req = {"op": "flatten", "input": d, "options": dict(o),
                      **extra}
            if _fl_ctx(s, d) is not None:
                fl_req["context"] = _fl_ctx(s, d)
            reqs.append(fl_req)
            reqs.append({"op": "frame", "input": d, "frame": fr,
                         "options": _frame_opts(s, o), **extra})
        refs = run_reference_batch(reqs)
        for i, (seed, doc, docmap) in enumerate(zip(seeds, docs, docmaps)):
            ref_ex, ref_rdf, ref_c, ref_fl, ref_fr = refs[5 * i:5 * i + 5]
            mine_ex = run_mine("expand", doc, documents=docmap,
                               options=_e_opts(seed, opts_for[seed]))
            ok = True
            why = ""
            if ref_ex["ok"] != mine_ex["ok"]:
                ok, why = False, (
                    f"expand ok-mismatch ref={ref_ex} mine={mine_ex}")
            elif ref_ex["ok"] and ref_ex["result"] != mine_ex["result"]:
                ok, why = False, (
                    f"expand diff\nref ={json.dumps(ref_ex['result'], sort_keys=True)[:1500]}"
                    f"\nmine={json.dumps(mine_ex['result'], sort_keys=True)[:1500]}")
            elif not ref_ex["ok"] and ref_ex.get("code") != mine_ex.get("code"):
                ok, why = False, (
                    f"error-code diff ref={ref_ex.get('code')} "
                    f"mine={mine_ex.get('code')}")
            if ok and ref_rdf["ok"]:
                mine_rdf = run_mine("toRDF", doc, documents=docmap,
                                    options=_rdf_opts(seed, opts_for[seed]))
                if not mine_rdf["ok"]:
                    ok, why = False, f"toRDF mine errored: {mine_rdf}"
                else:
                    same, res = compare_tordf(mine_rdf["result"],
                                              ref_rdf["result"])
                    if not same:
                        ok, why = False, (
                            f"toRDF P/R {res['precision']}/{res['recall']}"
                            f" missing={res['missing'][:3]}"
                            f" extra={res['extra'][:3]}")
            # full compact(doc, same ctx) round-trip
            if ok:
                doc_ctx = (doc.get("@context") or {}) \
                    if isinstance(doc, dict) else \
                    (doc[0].get("@context") or {})
                mine_c = run_mine("compact", doc,
                                  doc_ctx,
                                  documents=docmap,
                                  options=_c_opts(seed, opts_for[seed]))
                if ref_c["ok"] != mine_c["ok"]:
                    ok, why = False, (
                        f"compact ok-mismatch ref={str(ref_c)[:300]} "
                        f"mine={str(mine_c)[:300]}")
                elif ref_c["ok"] and ref_c["result"] != mine_c["result"]:
                    ok, why = False, (
                        f"compact diff\nref ="
                        f"{json.dumps(ref_c['result'], sort_keys=True)[:1500]}"
                        f"\nmine="
                        f"{json.dumps(mine_c['result'], sort_keys=True)[:1500]}")
            if ok:
                mine_fl = run_mine("flatten", doc, _fl_ctx(seed, doc),
                                   documents=docmap,
                                   options=opts_for[seed])
                if ref_fl["ok"] != mine_fl["ok"]:
                    ok, why = False, (
                        f"flatten ok-mismatch ref={str(ref_fl)[:300]} "
                        f"mine={str(mine_fl)[:300]}")
                elif ref_fl["ok"] and ref_fl["result"] != mine_fl["result"]:
                    ok, why = False, (
                        f"flatten diff\nref ="
                        f"{json.dumps(ref_fl['result'], sort_keys=True)[:1500]}"
                        f"\nmine="
                        f"{json.dumps(mine_fl['result'], sort_keys=True)[:1500]}")
            # a reference INTERNAL crash (TypeError etc. → no JsonLdError
            # code) is undefined behavior, not a contract to mirror
            ref_internal_crash = (not ref_fr["ok"] and
                                  ref_fr.get("code") is None)
            if ok and not ref_internal_crash:
                mine_fr = run_mine("frame", doc, frames[i],
                                   documents=docmap,
                                   options=_frame_opts(seed,
                                                       opts_for[seed]))
                if ref_fr["ok"] != mine_fr["ok"]:
                    ok, why = False, (
                        f"frame ok-mismatch ref={str(ref_fr)[:300]} "
                        f"mine={str(mine_fr)[:300]}")
                elif ref_fr["ok"] and ref_fr["result"] != mine_fr["result"]:
                    ok, why = False, (
                        f"frame={json.dumps(frames[i], sort_keys=True)[:300]}\n"
                        f"frame diff\nref ="
                        f"{json.dumps(ref_fr['result'], sort_keys=True)[:1500]}"
                        f"\nmine="
                        f"{json.dumps(mine_fr['result'], sort_keys=True)[:1500]}")
            # jsonld.merge over doc + a sibling random doc
            if ok and os.environ.get("DIFFTEST_MERGE"):
                doc2, _dm2 = random_doc(seed + 1000000)
                ref_m = run_reference_batch([{
                    "op": "merge", "input": [doc, doc2],
                    "context": None, "options": {}}])[0]
                mine_m = run_mine("merge", [doc, doc2], None)
                if not ref_m["ok"] and ref_m.get("code") is None:
                    pass  # reference internal crash
                elif ref_m["ok"] != mine_m.get("ok") or (
                        ref_m["ok"] and
                        ref_m["result"] != mine_m["result"]):
                    ok, why = False, (
                        f"merge diff\nref ="
                        f"{json.dumps(ref_m.get('result'), sort_keys=True, default=str)[:1200]}"
                        f"\nmine="
                        f"{json.dumps(mine_m.get('result'), sort_keys=True, default=str)[:1200]}")
            # expansionMap event-stream parity (exact sequence)
            if ok and ref_ex["ok"] and os.environ.get("DIFFTEST_EVENTS"):
                ev_ref = run_reference_batch([{
                    "op": "expandEvents", "input": doc, "options": {}}])[0]
                ev_mine = run_mine("expandEvents", doc, documents=docmap)
                if ev_ref["ok"] and ev_mine["ok"] and \
                        ev_ref["result"]["events"] != \
                        ev_mine["result"]["events"]:
                    ok, why = False, (
                        f"event-stream diff\nref ="
                        f"{json.dumps(ev_ref['result']['events'])[:1200]}"
                        f"\nmine="
                        f"{json.dumps(ev_mine['result']['events'])[:1200]}")
            if not ok:
                mismatches += 1
                print(f"== MISMATCH seed={seed}: {why}")
                print("   doc:", json.dumps(doc, sort_keys=True)[:2000])
        print(f"  [{min(start + batch, n_docs)}/{n_docs}] "
              f"mismatches={mismatches}")
    print("DIFFTEST", "FAIL" if mismatches else "OK",
          f"docs={n_docs} mismatches={mismatches}")
    return 1 if mismatches else 0


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n = int(args[0]) if args else 200
    s0 = int(args[1]) if len(args) > 1 else 0
    if "--fromrdf" in sys.argv:
        sys.exit(run_fromrdf_sweep(n, s0))
    if "--contexts" in sys.argv:
        sys.exit(run_context_sweep(n, s0))
    if "--oracle" in sys.argv:
        sys.exit(run_oracle_sweep(n, s0))
    sys.exit(main(n, s0))
