"""Reference-free relation suite for the JSON-LD kernel.

A seeded generator (random_doc, random_quads, random_frame) feeds
relations between the kernel's own algorithms, which need no reference
implementation:
- perf options: a shared activeCtx, cold and hot, equals a run that
  bypasses every memo and plan;
- toRDF(expand(x)) ≡ toRDF(x), and expand(expand(x)) is a fixed point;
- toRDF(flatten(x)) ≡ toRDF(x);
- toRDF(fromRDF(toRDF(x))) ≡ toRDF(x), also over random_quads;
- toRDF(compact(x, ctx)) ≡ toRDF(x);
- a preparedFrame equals a plain frame over random_frame.
"≡" is equality modulo blank-node bijection (jsonld_js_spark.testing);
where a side raises, both must raise the same error code. Classes that
are lossy by spec or garbage in are excluded by input predicates
(EXCLUSIONS); unexplained divergences are pinned (PINNED).
tests/test_kernel_purity.py runs a bounded slice in Tier-1.

Usage: python tools/difftest.py [n_docs=200] [seed0=0]
Runs every relation over n_docs seeds in each ORACLE_MODES generator
mode (the quads relation, which reads no mode, in the default mode
only) and prints checked, excluded, input-error and xfail counts per
relation. Exit 1 on any divergence, printing the reproducing document.
"""
from __future__ import annotations

import json
import os
import random
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from jsonld_js_spark.kernel import (  # noqa: E402
    ContextResolver, JsonLdError, compact, expand, flatten, frame, from_rdf,
    to_rdf,
)
from jsonld_js_spark.kernel.api import (  # noqa: E402
    prepare_frame, process_context_api,
)
from jsonld_js_spark.testing import (  # noqa: E402
    compare_triple_sets, normalize_quads,
)

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
    Returns (kernel tuples, options); no ORACLE_MODES generator mode
    changes them."""
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

    opts = {}
    if rng.random() < 0.5:
        opts["useNativeTypes"] = True
    if rng.random() < 0.2:
        opts["useRdfType"] = True
    if rng.random() < 0.3 or os.environ.get("DIFFTEST_RDFDIR"):
        opts["rdfDirection"] = "i18n-datatype"
    return deduped, opts


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
    """Per-seed framing-option variation (both sides get the same)."""
    o = dict(base)
    if seed % 9 == 4:
        o["omitGraph"] = False
    if seed % 11 == 7:
        o["omitDefault"] = True
    # API-level flag DEFAULTS (ref lib/jsonld.js:431-436) — frames
    # without explicit @embed/@explicit/@requireAll inherit these
    # NOT '@link': linked output is circular and cannot JSON-serialize
    if seed % 7 == 2:
        o["embed"] = rng_choice(seed, ["@always", "@never"])
    if seed % 13 == 5:
        o["explicit"] = True
    if seed % 17 == 3:
        o["requireAll"] = True
    return o


def rng_choice(seed, items):
    return items[(seed * 2654435761) % len(items)]


# --- reference-free relation suite ------------------------------------------

# the relation sweep runs every generator mode in turn
ORACLE_MODES = {
    "default": {},
    "MODE10": {"DIFFTEST_MODE10": "1"},
    "UNICODE": {"DIFFTEST_UNICODE": "1"},
    "DEPTH5": {"DIFFTEST_DEPTH": "5"},
    "REMOTE": {"DIFFTEST_REMOTE": "1"},
}

# A dataset with one literal of each common datatype, for the
# useRdfType round trip (its fromRDF golden was lost to a duplicated
# fixture name).
FIXED_QUADS = [
    (EX + "a", RDF_NS + "type", EX + "T", "NamedNode", None, None, ""),
    (EX + "a", EX + "count", "42", "Literal", XSD + "integer", None, ""),
    (EX + "a", EX + "score", "1.1E0", "Literal", XSD + "double", None, ""),
    (EX + "a", EX + "flag", "true", "Literal", XSD + "boolean", None, ""),
    (EX + "a", EX + "greeting", "hola", "Literal", RDF_NS + "langString",
     "es", ""),
    (EX + "a", EX + "date", "2026-01-01", "Literal", XSD + "date", None, ""),
]


def _run(fn):
    """("ok", fn()) or ("error", code); an internal crash (the GIGO
    parity TypeErrors) is coded by its type."""
    try:
        return "ok", fn()
    except JsonLdError as e:
        return "error", e.code
    except RecursionError:
        return "error", "recursion"
    except Exception as e:
        return "error", f"INTERNAL:{type(e).__name__}"


def _outcome(fn):
    """fn()'s result as comparable JSON text, or its error code."""
    return _run(lambda: json.dumps(fn(), sort_keys=True, default=repr))


def _quad_set(quads) -> frozenset:
    # GIGO inputs can put a non-scalar (an array datatype from a
    # malformed value object) into a literal; stringify it
    return normalize_quads(
        tuple(json.dumps(c, sort_keys=True)
              if isinstance(c, (list, dict)) else c for c in q)
        for q in quads)


def _differs(got, want) -> str | None:
    """None when two _run outcomes of to_rdf agree: equal quads modulo
    blank-node bijection, or the same error code."""
    if got[0] == want[0] == "ok":
        res = compare_triple_sets(_quad_set(got[1]), _quad_set(want[1]))
        if res["precision"] == res["recall"] == 1.0:
            return None
        return f"missing={res['missing'][:3]} extra={res['extra'][:3]}"
    if got == want:
        return None
    return f"{str(got)[:600]}\n  want: {str(want)[:600]}"


def _doc_context(doc):
    return (doc.get("@context") if isinstance(doc, dict)
            else doc[0].get("@context")) or {}


def _base_opts(seed: int, documents) -> dict:
    """Every 13th seed (or every seed under DIFFTEST_MODE10) runs in
    json-ld-1.0 mode; every 8th gets an explicit API base."""
    opts: dict = {}
    if seed % 13 == 0 or os.environ.get("DIFFTEST_MODE10"):
        opts["processingMode"] = "json-ld-1.0"
    if seed % 8 == 1:
        opts["base"] = "http://base.org/dir/doc"
    if documents:
        opts["contextResolver"] = ContextResolver(documents=documents)
    return opts


def _rdf_opts(seed: int, base: dict) -> dict:
    """toRDF options: direction-tagged literals as i18n datatypes on
    every 10th seed, blank-node predicates kept on every 14th."""
    o = dict(base)
    if seed % 10 == 6:
        o["rdfDirection"] = "i18n-datatype"
    if seed % 14 == 9:
        o["produceGeneralizedRdf"] = True
    return o


def _compact_opts(seed: int, base: dict) -> dict:
    o = dict(base)
    if seed % 7 == 3:
        o["compactArrays"] = False
    if seed % 11 == 5:
        o["graph"] = True
    return o


def _perf_relation(doc, opts):
    """The perf-option relation: the document's context is processed
    once, then expand and to_rdf run cold and hot on that shared
    activeCtx. Each must equal the same call under a no-op
    expansionMap, which bypasses every memo and plan (an expansionMap
    returning None keeps the default behaviour). Status "no-context"
    (a top-level array document) or "context-error" (the context does
    not process) means the whole document went through the plain
    calls instead."""
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


def _expand_relation(seed, doc, opts, rdf):
    """toRDF(expand(x)) ≡ toRDF(x), and expand(expand(x)) is a fixed
    point of expand. The second expansion itself may drop what the
    first kept inside a container (free-floating values under
    @graph), so the JSON fixed point is checked one step later."""
    once = _run(lambda: expand(doc, dict(opts)))
    if once[0] != "ok":
        return "checked", _differs(once, rdf)
    why = _differs(_run(lambda: to_rdf(once[1], _rdf_opts(seed, opts))),
                   rdf)
    twice = _run(lambda: expand(once[1], dict(opts)))
    if why is not None or twice[0] != "ok":
        return "checked", why
    want = json.dumps(twice[1], sort_keys=True)
    got = _outcome(lambda: expand(twice[1], dict(opts)))
    if got != ("ok", want):
        why = f"expand^3: {str(got)[:600]}\n  expand^2: {want[:600]}"
    return "checked", why


def _flattens_with_context(seed: int) -> bool:
    return seed % 5 == 2


def _flatten_relation(seed, doc, opts, rdf):
    """toRDF(flatten(x)) ≡ toRDF(x); every 5th seed flattens with the
    document's context, so compaction runs over node-map output."""
    ctx = _doc_context(doc) if _flattens_with_context(seed) else None
    return "checked", _differs(
        _run(lambda: to_rdf(flatten(doc, ctx, dict(opts)),
                            _rdf_opts(seed, opts))), rdf)


def round_trip(quads, from_opts: dict, rdf_opts: dict) -> str | None:
    """toRDF(fromRDF(quads)) ≡ quads."""
    return _differs(_run(lambda: to_rdf(from_rdf(quads, dict(from_opts)),
                                        dict(rdf_opts))), ("ok", quads))


def _fromrdf_relation(seed, doc, opts, rdf):
    """toRDF(fromRDF(toRDF(x))) ≡ toRDF(x)."""
    if rdf[0] != "ok":
        return "input-error", None
    ropts = _rdf_opts(seed, opts)
    return "checked", round_trip(rdf[1], ropts, ropts)


def _compact_relation(seed, doc, opts, rdf):
    """toRDF(compact(x, ctx)) ≡ toRDF(x) with the document's own
    context."""
    return "checked", _differs(
        _run(lambda: to_rdf(compact(doc, _doc_context(doc),
                                    _compact_opts(seed, opts)),
                            _rdf_opts(seed, opts))), rdf)


def _frame_relation(seed, doc, opts, rdf):
    """frame with one preparedFrame, used twice, equals a plain frame
    over random_frame(seed)."""
    frame_doc = random_frame(seed, doc)
    fopts = _frame_opts(seed, opts)
    want = _outcome(lambda: frame(doc, frame_doc, dict(fopts)))
    prepared = _run(lambda: prepare_frame(frame_doc, dict(fopts)))
    if prepared[0] != "ok":
        return "checked", None if prepared == want else \
            f"prepare_frame: {prepared[1]}\n  plain: {str(want[1])[:600]}"
    for run in ("cold", "hot"):
        got = _outcome(lambda: frame(doc, frame_doc,
                                     dict(fopts, preparedFrame=prepared[1])))
        if got != want:
            return "checked", f"prepared {run}: {str(got[1])[:600]}\n" \
                              f"  plain: {str(want[1])[:600]}"
    return "checked", None


def _quads_relation(seed):
    """The fromRDF round trip over random_quads(seed): with the
    dataset's own fromRDF options, toRDF(fromRDF(D)) ≡ D for
    D = toRDF(fromRDF(quads)) (the first pass canonicalises literals
    and language tags, by spec)."""
    quads, qopts = random_quads(seed)
    ropts = {k: v for k, v in qopts.items() if k == "rdfDirection"}
    first = _run(lambda: to_rdf(from_rdf(quads, dict(qopts)), dict(ropts)))
    if first[0] != "ok":
        return "input-error", None
    return "checked", round_trip(first[1], qopts, ropts)


_DOC_RELATIONS = {
    "expand": _expand_relation,
    "flatten": _flatten_relation,
    "fromRDF": _fromrdf_relation,
    "compact": _compact_relation,
    "frame": _frame_relation,
}


def relations_case(seed: int, quads: bool = True) -> dict:
    """Every relation on random_doc(seed), and with `quads` the quads
    relation on random_quads(seed), which reads no generator mode (a
    sweep runs it in the default mode only): {relation: (status,
    divergence)}. Status is "checked" (also when both sides raise: the
    error codes must then match), "input-error" (the step both sides
    share raised),
    "excluded:<predicate>" (an EXCLUSIONS input predicate holds, so the
    relation is not run) or one of _perf_relation's; divergence is None
    when the sides agree."""
    doc, documents = random_doc(seed)
    opts = _base_opts(seed, documents)
    rdf = _run(lambda: to_rdf(doc, _rdf_opts(seed, opts)))
    out = {"perf": _perf_relation(doc, opts)}
    for name, relation in _DOC_RELATIONS.items():
        excluded = _excluded(name, seed, doc, opts)
        out[name] = (f"excluded:{excluded}", None) if excluded else \
            relation(seed, doc, opts, rdf)
    if quads:
        out["quads"] = _quads_relation(seed)
    return out


def _dicts(value, contexts=True):
    """Every object in a JSON value, depth first; contexts=False skips
    @context values."""
    if isinstance(value, dict):
        yield value
        value = [v for k, v in value.items() if contexts or k != "@context"]
    if isinstance(value, list):
        for v in value:
            yield from _dicts(v, contexts)


def _context_dicts(doc):
    """Every object inside a @context of doc: local contexts, term
    definitions and their scoped contexts."""
    for d in _dicts(doc, contexts=False):
        if "@context" in d:
            yield from _dicts(d["@context"])


def _term_values(doc, test):
    """The values (array members one by one) of every key whose term
    definition, anywhere in doc's contexts, passes test."""
    terms = {k for c in _context_dicts(doc) for k, td in c.items()
             if isinstance(td, dict) and test(td)}
    for d in _dicts(doc, contexts=False):
        for k in terms & d.keys():
            yield from d[k] if isinstance(d[k], list) else [d[k]]


def _containers(td) -> list:
    c = td.get("@container")
    return c if isinstance(c, list) else [c]


def _max_double(seed, doc, opts):
    """The canonical form of the largest double, 1.797693134862316E308,
    overflows when toRDF parses it back (jsonld.js parseFloats every
    xsd:double), so it returns as Infinity."""
    return "1.7976931348623157e+308" in json.dumps(doc)


def _double_coerced_non_number(seed, doc, opts):
    """A non-number under an xsd:double-coerced term keeps its lexical
    form once; toRDF of that typed string parses it to NaN."""
    return any(not isinstance(v, (int, float)) or isinstance(v, bool)
               for v in _term_values(
                   doc, lambda td: td.get("@type") == XSD + "double"))


def _non_node_in_node_container(seed, doc, opts):
    """Garbage in: a value or list (not a node object) under a @graph or
    @type container term, or in its map. A @graph container wraps it as
    a free-floating value; a @type map gives it the map key as @type."""
    for v in _term_values(doc, lambda td: "@graph" in _containers(td) or
                          "@type" in _containers(td)):
        members = [v]
        if isinstance(v, dict) and "@value" not in v:  # a map
            members = [m for ms in v.values()
                       for m in (ms if isinstance(ms, list) else [ms])]
        if any(not isinstance(m, dict) or "@value" in m or "@list" in m
               for m in members):
            return True
    return False


def _json_in_mode10(seed, doc, opts):
    """In json-ld-1.0 mode a @json term reaches the output only through
    the jsonld.js quirk where a boolean @propagate erases the processing
    mode (kernel/context.py, fuzz seed 185008); expanded again in that mode,
    the @json value is not a valid typed value."""
    ctx = list(_context_dicts(doc))
    return opts.get("processingMode") == "json-ld-1.0" and any(
        isinstance(c.get("@propagate"), bool) for c in ctx) and any(
        c.get("@type") == "@json" or "@json" in c.values() for c in ctx)


def _non_string_in_language_container(seed, doc, opts):
    """Garbage in: a non-string under a @language container term is
    expanded as a plain value; compacted into the language map, it no
    longer expands."""
    return any(not isinstance(v, (str, dict)) or
               isinstance(v, dict) and "@value" in v
               for v in _term_values(
                   doc, lambda td: "@language" in _containers(td)))


def _non_propagated_context(seed, doc, opts):
    """"@propagate": false: compaction nests nodes (under @graph, in
    property values) where that context no longer applies."""
    return any(c.get("@propagate") is False for c in _context_dicts(doc))


def _context_reset(seed, doc, opts):
    """A null context with no API base leaves relative IRIs
    unresolved; compacted under the document's context they resolve."""
    return "base" not in opts and any(
        "@context" in d and d["@context"] is None for d in _dicts(doc))


def _language_direction_compaction(seed, doc, opts):
    """Value compaction (jsonld.js lib/compact.js:984-999) returns the
    bare string when only the language or only the direction matches
    the context, and when a default direction but no default language
    is set, so the other one is lost."""
    ctx = list(_context_dicts(doc))
    if any(c.get("@direction") is not None or "@direction" in c.values()
           for c in ctx):
        return True
    return any(c.get("@language") is not None for c in ctx) and any(
        "@direction" in d for d in _dicts(doc, contexts=False))


def _json_array_literal(seed, doc, opts):
    """Compaction writes a @json value as plain JSON under its term, so
    an array there reads back as several values: compactArrays=false
    wraps every @json value in one, and an array literal's own arrays
    are unwrapped."""
    ctx = list(_context_dicts(doc))
    json_terms = {k for c in ctx for k, td in c.items()
                  if td == "@json" or isinstance(td, dict) and
                  td.get("@type") == "@json"}
    if not json_terms:
        return False
    return "compactArrays" in _compact_opts(seed, {}) or any(
        isinstance(d.get("@value"), list) or
        any(isinstance(d[k], list) for k in json_terms & d.keys())
        for d in _dicts(doc, contexts=False))


def _relative_type_map_key(seed, doc, opts):
    """A @type map key is expanded against the vocabulary only, so a
    relative one stays relative; expanded again as a @type value it
    resolves against the base."""
    has_base = "base" in opts or any("@base" in c
                                     for c in _context_dicts(doc))
    return has_base and any(
        isinstance(v, dict) and "@value" not in v and
        any(":" not in k and not k.startswith("@") for k in v)
        for v in _term_values(doc, lambda td: "@type" in _containers(td)))


def _anonymous_graph_in_array(seed, doc, opts):
    """A top-level array whose node has @graph and no @id expands to a
    lone blank-node graph object; compacted, it reads as the top-level
    @graph wrapper and merges into the default graph."""
    return isinstance(doc, list) and "@graph" in doc[0] and \
        "@id" not in doc[0]


# Input predicates for classes where a relation is lossy by spec or the
# input is garbage, so the two sides may rightly differ. Each reads the
# generated input only, never an outcome.
_COMPACTION = [_non_propagated_context, _context_reset,
               _language_direction_compaction,
               _non_string_in_language_container, _json_array_literal,
               _anonymous_graph_in_array]
EXCLUSIONS: dict = {
    "expand": [_non_node_in_node_container, _json_in_mode10,
               _relative_type_map_key],
    "flatten": [_non_node_in_node_container, _json_in_mode10,
                _relative_type_map_key, *_COMPACTION],
    "fromRDF": [_max_double, _double_coerced_non_number,
                _non_node_in_node_container, _json_in_mode10],
    "compact": [_non_node_in_node_container, _relative_type_map_key,
                *_COMPACTION],
    "frame": [],
}


def _excluded(relation: str, seed: int, doc, opts) -> str | None:
    """The name of the first EXCLUSIONS predicate of relation that holds
    for this input. Flatten compacts only when it gets a context, so
    only then do the compaction predicates apply to it."""
    for predicate in EXCLUSIONS[relation]:
        if relation == "flatten" and predicate in _COMPACTION and \
                not _flattens_with_context(seed):
            continue
        if predicate(seed, doc, opts):
            return predicate.__name__.lstrip("_")
    return None


# Divergences nothing yet explains: (mode, relation, seed) -> note. With
# no reference, nothing shows which side is right, so each stays an
# expected failure until it is understood.
PINNED: dict = {}


def run_relation_sweep(n_docs: int, seed0: int) -> int:
    """Every relation over n_docs seeds in each ORACLE_MODES mode (the
    quads relation in the default mode only), and the FIXED_QUADS
    useRdfType round trip. Exit status 1 on a
    divergence outside PINNED, or on a pinned seed that holds."""
    global UNI
    why = round_trip(FIXED_QUADS, {"useRdfType": True}, {})
    failed = int(why is not None)
    print("FIXED useRdfType round trip:", why or "ok")
    for mode, env in ORACLE_MODES.items():
        saved = {k: os.environ.get(k) for k in env}
        os.environ.update(env)
        UNI = bool(os.environ.get("DIFFTEST_UNICODE"))
        counts: dict = {}
        try:
            for seed in range(seed0, seed0 + n_docs):
                for name, (status, why) in relations_case(
                        seed, quads=mode == "default").items():
                    if (mode, name, seed) in PINNED:
                        status = "xfail" if why else "XPASS"
                    elif why is not None:
                        status = "DIVERGED"
                        print(f"== DIVERGENCE mode={mode} relation={name} "
                              f"seed={seed}: {why}")
                        print("   doc:", json.dumps(random_doc(seed)[0],
                                                    sort_keys=True)[:2000])
                    c = counts.setdefault(name, {})
                    c[status] = c.get(status, 0) + 1
        finally:
            for k, v in saved.items():
                if v is None:
                    os.environ.pop(k, None)
                else:
                    os.environ[k] = v
            UNI = bool(os.environ.get("DIFFTEST_UNICODE"))
        for name, c in counts.items():
            failed += c.get("DIVERGED", 0) + c.get("XPASS", 0)
            excluded = {k: c.pop(k) for k in sorted(c)
                        if k.startswith("excluded:")}
            print(f"{mode:8s} {name:8s} checked={c.pop('checked', 0)} "
                  f"excluded={sum(excluded.values())} "
                  f"xfail={c.pop('xfail', 0)}" +
                  "".join(f" {k}={v}" for k, v in sorted(c.items())) +
                  "".join(f"\n{'':18s}{k}={v}" for k, v in excluded.items()))
    print("DIFFTEST", "FAIL" if failed else "OK", f"failures={failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sys.exit(run_relation_sweep(int(args[0]) if args else 200,
                                int(args[1]) if len(args) > 1 else 0))
