"""RDF serialization / deserialization — JSON-LD 1.1 §8 (toRDF / fromRDF).

Behavioral reference: lib/toRdf.js:48-280 (toRDF, graph/object/list
emission, canonical literals), lib/fromRdf.js:45-347 (fromRDF, list
reconstruction, native types), plus N-Quads grammar (W3C RDF 1.1 N-Quads,
re-implemented — the reference delegates to rdf-canonize's NQuads).

Spark role (SURVEY.md §2.5): in the distributed pipeline triple emission
is pure column ops over node-map rows (operators/triples.py); this kernel
version is the single-node oracle and the generic-document UDF path.

Quad record shape (matches FIXTURES.md §3 triple-table schema):
    (subj, pred, obj_value, obj_termtype, obj_datatype, obj_language, graph)
graph '' = the default graph (ref lib/toRdf.js:59 encodes DefaultGraph).
"""

from __future__ import annotations

import re

from .nodemap import create_node_map
from .util import (
    JsonLdError, IdentifierIssuer, KEYWORDS, RDF, RDF_TYPE, RDF_FIRST,
    RDF_REST, RDF_NIL, RDF_LANGSTRING, RDF_JSON_LITERAL, XSD_STRING,
    XSD_BOOLEAN, XSD_INTEGER, XSD_DOUBLE, canonical_double,
    canonical_integer, is_absolute_iri, is_blank_node_id, is_double,
    is_integer_number, jcs_canonicalize, js_parse_float, parse_json,
    MEMO_CAP, _ABS_IRI_CACHE, _ABSOLUTE_IRI_RE,
)

I18N_NS = "https://www.w3.org/ns/i18n#"


def to_rdf(expanded, options: dict | None = None) -> list[tuple]:
    """Deserialize JSON-LD to RDF (ref lib/toRdf.js:48-75). Input must be
    expanded form. Returns a list of quad tuples."""
    options = options or {}
    issuer = options.get("issuer") or IdentifierIssuer("_:b")
    graphs = {"@default": {}}
    create_node_map(expanded, graphs, "@default", issuer)

    dataset = []
    for graph_name in sorted(graphs.keys()):
        if graph_name == "@default":
            graph_term = ""
        elif is_absolute_iri(graph_name) or is_blank_node_id(graph_name):
            graph_term = graph_name
        else:
            continue  # skip relative graph names (ref lib/toRdf.js:67-69)
        _graph_to_rdf(dataset, graphs[graph_name], graph_term, issuer, options)
    return dataset


# subject-shape plans of _graph_to_rdf: a node's emitting keys, sorted,
# each with its class — 0 = @type, 1 = named predicate, 2 = blank-node
# predicate (emitted only as generalized RDF); @id, the other keywords
# and relative-IRI predicates are left out. A pure function of the key
# strings, keyed by the key tuple; capped at MEMO_CAP.
_RDF_SHAPES: dict = {}


def _rdf_shape(node: dict) -> tuple:
    key = tuple(node)
    plan = _RDF_SHAPES.get(key)
    if plan is None:
        plan = []
        for prop in sorted(key):
            if prop == "@type":
                plan.append((prop, 0))
            elif prop in KEYWORDS:
                continue  # other keywords skipped (ref lib/toRdf.js:97-99)
            # relative-IRI predicates skipped (ref lib/toRdf.js:119-121)
            elif is_blank_node_id(prop):
                plan.append((prop, 2))
            elif is_absolute_iri(prop):
                plan.append((prop, 1))
        plan = tuple(plan)
        if len(_RDF_SHAPES) > MEMO_CAP:
            _RDF_SHAPES.clear()
        _RDF_SHAPES[key] = plan
    return plan


def _graph_to_rdf(dataset, graph: dict, graph_term: str, issuer, options):
    """(ref lib/toRdf.js:88-145)"""
    generalized = options.get("produceGeneralizedRdf")
    append = dataset.append
    for id_ in sorted(graph.keys()):
        node = graph[id_]
        if len(node) == 1 and "@id" in node:
            continue  # a bare subject (e.g. a mention entity) emits nothing
        # relative-IRI subjects skipped (ref lib/toRdf.js:108-111) —
        # hoisted out of the property loop: pure in id_, and nothing
        # observable (no issuer allocation, no hook) happens before
        # the reference's per-property check fires
        # (a subject IRI is mostly unique: matched, not memoized)
        if not (_ABS_IRI_CACHE.get(id_) or _ABSOLUTE_IRI_RE.match(id_) or
                id_.startswith("_:")):
            continue
        for property_, cls in _rdf_shape(node):
            items = node[property_]
            if cls == 0:
                # direct rdf:type emission — the generic path would
                # allocate a {'@id': t} wrapper per type value just to
                # have _object_to_rdf unwrap it; this mirrors its
                # node-reference branch exactly (ref lib/toRdf.js:274)
                for t in (items if isinstance(items, list) else [items]):
                    if not isinstance(t, str):
                        continue
                    if t.startswith("_:"):
                        append((id_, RDF_TYPE, t, "BlankNode",
                                None, None, graph_term))
                    elif _ABS_IRI_CACHE.get(t) or is_absolute_iri(t):
                        append((id_, RDF_TYPE, t, "NamedNode",
                                None, None, graph_term))
                continue
            # bnode predicates skipped unless generalized RDF
            # (ref lib/toRdf.js:124-127)
            if cls == 2 and not generalized:
                continue

            for item in (items if isinstance(items, list) else [items]):
                if item.__class__ is dict:
                    # quads straight from the two commonest value
                    # shapes: a plain or datatyped string literal and
                    # a node reference — what _object_to_rdf returns
                    # for them, minus the call
                    n = len(item)
                    if n == 1:
                        v = item.get("@value")
                        if v.__class__ is str:
                            append((id_, property_, v, "Literal",
                                    XSD_STRING, None, graph_term))
                            continue
                        if v.__class__ is int and -1e21 < v < 1e21:
                            # neither is_double nor fractional: the
                            # canonical integer is its decimal form
                            append((id_, property_, str(v), "Literal",
                                    XSD_INTEGER, None, graph_term))
                            continue
                        v = item.get("@id")
                        if v.__class__ is str and not v.startswith("_:"):
                            if _ABS_IRI_CACHE.get(v) or is_absolute_iri(v):
                                append((id_, property_, v, "NamedNode",
                                        None, None, graph_term))
                            continue
                    elif n == 2:
                        v = item.get("@value")
                        t = item.get("@type")
                        if v.__class__ is str and t.__class__ is str and \
                                t != "@json" and t != XSD_DOUBLE:
                            append((id_, property_, v, "Literal",
                                    t or XSD_STRING, None, graph_term))
                            continue
                    if "@list" in item:  # inlined is_list
                        obj = _list_to_rdf(dataset, item["@list"],
                                           graph_term, issuer, options)
                    else:
                        obj = _object_to_rdf(item, dataset, graph_term,
                                             issuer, options)
                else:
                    obj = _object_to_rdf(item, dataset, graph_term, issuer,
                                         options)
                if obj is None:
                    continue  # relative-IRI object (ref lib/toRdf.js:137-140)
                # direct 7-tuple (no intermediate concat allocations)
                append((id_, property_, obj[0], obj[1], obj[2], obj[3],
                        graph_term))


def _list_to_rdf(dataset, list_items, graph_term, issuer, options):
    """RDF collection emission (ref lib/toRdf.js:158-204). Returns the head
    term as an object 5-tuple fragment (value, termtype, datatype, lang)."""
    if not list_items:
        return (RDF_NIL, "NamedNode", None, None)
    # allocation order mirrors the reference exactly (head link first,
    # then per item: convert the item — which may allocate bnodes for
    # nested structures — THEN the next link), so issued labels match
    # jsonld.js byte-for-byte, not just modulo bijection
    head = issuer.get_id()
    subj = head
    for item in list_items[:-1]:
        obj = _object_to_rdf(item, dataset, graph_term, issuer, options)
        nxt = issuer.get_id()
        if obj is not None:
            dataset.append((subj, RDF_FIRST) + obj + (graph_term,))
        dataset.append((subj, RDF_REST, nxt, "BlankNode", None, None,
                        graph_term))
        subj = nxt
    obj = _object_to_rdf(list_items[-1], dataset, graph_term, issuer,
                         options)
    if obj is not None:
        dataset.append((subj, RDF_FIRST) + obj + (graph_term,))
    dataset.append((subj, RDF_REST, RDF_NIL, "NamedNode", None, None,
                    graph_term))
    return (head, "BlankNode", None, None)


def _object_to_rdf(item, dataset, graph_term, issuer, options):
    """Value object → typed literal; node/ref → term
    (ref lib/toRdf.js:217-280). Returns (value, termtype, datatype, lang)
    or None for skipped relative IRIs."""
    _is_dict = isinstance(item, dict)
    if _is_dict and "@value" in item:  # inlined is_value (hot)
        value = item["@value"]
        datatype = item.get("@type")
        language = item.get("@language")
        direction = item.get("@direction")
        rdf_direction = options.get("rdfDirection")

        # plain-string fast path: a str value is never a bool/double/
        # integer (is_double/is_integer_number both reject str before
        # any numeric work), so with no double coercion the chain
        # below reduces to the language/direction tail — hot: string
        # literals dominate transcript corpora
        if value.__class__ is str and datatype != "@json" and \
                datatype != XSD_DOUBLE:
            if language is not None:
                if direction is not None and \
                        rdf_direction == "i18n-datatype":
                    return (value, "Literal",
                            f"{I18N_NS}{language}_{direction}", None)
                return (value, "Literal", datatype or RDF_LANGSTRING,
                        language)
            if direction is not None and rdf_direction == "i18n-datatype":
                return (value, "Literal", f"{I18N_NS}_{direction}", None)
            return (value, "Literal", datatype or XSD_STRING, None)

        if datatype == "@json":
            return (jcs_canonicalize(value), "Literal", RDF_JSON_LITERAL,
                    None)
        if isinstance(value, bool):
            return ("true" if value else "false", "Literal",
                    datatype or XSD_BOOLEAN, None)
        if is_double(value) or datatype == XSD_DOUBLE:
            if not is_double(value):
                value = js_parse_float(value)  # NaN on junk, like JS
            return (canonical_double(value), "Literal",
                    datatype or XSD_DOUBLE, None)
        if is_integer_number(value):
            return (canonical_integer(value), "Literal",
                    datatype or XSD_INTEGER, None)
        if language is not None:
            if direction is not None and rdf_direction == "i18n-datatype":
                # (ref lib/toRdf.js:247-253)
                return (str(value), "Literal",
                        f"{I18N_NS}{language}_{direction}", None)
            return (str(value), "Literal", datatype or RDF_LANGSTRING,
                    language)
        if direction is not None and rdf_direction == "i18n-datatype":
            return (str(value), "Literal", f"{I18N_NS}_{direction}", None)
        return (str(value), "Literal", datatype or XSD_STRING, None)

    if _is_dict and "@list" in item:  # inlined is_list
        return _list_to_rdf(dataset, item["@list"], graph_term, issuer,
                            options)

    # node / subject reference
    id_ = item.get("@id")
    if id_ is None:
        return None
    if is_blank_node_id(id_):
        return (id_, "BlankNode", None, None)
    if not is_absolute_iri(id_):
        return None  # relative IRIs dropped (ref lib/toRdf.js:274-277)
    return (id_, "NamedNode", None, None)


# --- N-Quads ------------------------------------------------------------------

_ESCAPES = {"\\": "\\\\", '"': '\\"', "\n": "\\n", "\r": "\\r", "\t": "\\t"}


def _escape_literal(s: str) -> str:
    return re.sub(r'[\\"\n\r\t]', lambda m: _ESCAPES[m.group(0)], s)


_UNESCAPES = {"\\\\": "\\", '\\"': '"', "\\n": "\n", "\\r": "\r",
              "\\t": "\t", "\\b": "\b", "\\f": "\f", "\\'": "'"}


def _unescape_literal(s: str) -> str:
    def sub(m):
        g = m.group(0)
        if g in _UNESCAPES:
            return _UNESCAPES[g]
        if g.startswith("\\u"):
            return chr(int(g[2:], 16))
        if g.startswith("\\U"):
            return chr(int(g[2:], 16))
        return g
    return re.sub(
        r'\\u[0-9A-Fa-f]{4}|\\U[0-9A-Fa-f]{8}|\\[\\"nrtbf\']', sub, s)


def quad_to_nquad(quad: tuple) -> str:
    """Serialize one quad tuple to a canonical N-Quads line."""
    subj, pred, obj_value, obj_termtype, obj_datatype, obj_language, graph = \
        quad
    s = subj if subj.startswith("_:") else f"<{subj}>"
    p = pred if pred.startswith("_:") else f"<{pred}>"
    if obj_termtype == "NamedNode":
        o = f"<{obj_value}>"
    elif obj_termtype == "BlankNode":
        o = obj_value
    else:
        o = f'"{_escape_literal(obj_value)}"'
        if obj_language:
            o += f"@{obj_language}"
        elif obj_datatype and obj_datatype != XSD_STRING:
            o += f"^^<{obj_datatype}>"
    g = ""
    if graph:
        g = (graph if graph.startswith("_:") else f"<{graph}>") + " "
    return f"{s} {p} {o} {g}."


def serialize_nquads(dataset: list[tuple]) -> str:
    return "".join(quad_to_nquad(q) + "\n" for q in sorted(
        dataset, key=lambda q: quad_to_nquad(q)))


_IRI = r"<([^:]+:[^>]*)>"
_BNODE = r"(_:(?:[A-Za-z0-9]|[^\x00-\x7F])(?:[A-Za-z0-9.\-_]|[^\x00-\x7F])*)"
_PLAIN = r'"([^"\\]*(?:\\.[^"\\]*)*)"'
_DATATYPE = rf"\^\^{_IRI}"
_LANGUAGE = r"@([a-zA-Z]+(?:-[a-zA-Z0-9]+)*)"
_LITERAL = rf"(?:{_PLAIN}(?:{_DATATYPE}|{_LANGUAGE})?)"
_WS = r"[ \t]+"
_WSO = r"[ \t]*"
_SUBJECT = rf"(?:{_IRI}|{_BNODE}){_WS}"
_PREDICATE = rf"(?:{_IRI}|{_BNODE}){_WS}"
_OBJECT = rf"(?:{_IRI}|{_BNODE}|{_LITERAL}){_WSO}"
_GRAPH = rf"(?:\.|(?:(?:{_IRI}|{_BNODE}){_WSO}\.))"
_QUAD_RE = re.compile(
    f"^{_WSO}{_SUBJECT}{_PREDICATE}{_OBJECT}{_GRAPH}{_WSO}(?:#.*)?$")
_EMPTY_RE = re.compile(rf"^{_WSO}(#.*)?$")


def parse_nquad_line(line: str, lineno: int = 0):
    """Parse ONE N-Quads statement line into a quad tuple, or None for
    an empty/comment line. A statement is self-contained, which is what
    makes .nq files line-splittable for the distributed reader
    (sources/nquads.py)."""
    if _EMPTY_RE.match(line):
        return None
    m = _QUAD_RE.match(line)
    if m is None:
        where = f"on line {lineno}" if lineno else f"in {line[:80]!r}"
        raise JsonLdError(f"N-Quads parse error {where}.",
                          "N-Quads parse error")
    g = m.groups()
    # groups: 0 subj-iri, 1 subj-bnode, 2 pred-iri, 3 pred-bnode,
    # 4 obj-iri, 5 obj-bnode, 6 literal-value, 7 datatype, 8 language,
    # 9 graph-iri, 10 graph-bnode
    subj = g[0] if g[0] is not None else g[1]
    pred = g[2] if g[2] is not None else g[3]
    if g[4] is not None:
        obj = (g[4], "NamedNode", None, None)
    elif g[5] is not None:
        obj = (g[5], "BlankNode", None, None)
    else:
        value = _unescape_literal(g[6])
        if g[7] is not None:
            obj = (value, "Literal", g[7], None)
        elif g[8] is not None:
            obj = (value, "Literal", RDF_LANGSTRING, g[8])
        else:
            obj = (value, "Literal", XSD_STRING, None)
    graph = g[9] if g[9] is not None else (g[10] or "")
    return (subj, pred) + obj + (graph,)


def parse_nquads(text: str) -> list[tuple]:
    """Parse N-Quads into quad tuples (N-Quads grammar re-implementation;
    comment lines allowed — the reference's fromRdf-0001 fixture relies on
    comment handling). Dedups identical statements like rdf-canonize does."""
    dataset = []
    seen = set()
    for lineno, line in enumerate(text.split("\n"), start=1):
        quad = parse_nquad_line(line, lineno)
        if quad is None:
            continue
        if quad not in seen:
            seen.add(quad)
            dataset.append(quad)
    return dataset


# --- fromRDF ------------------------------------------------------------------

def from_rdf(dataset: list[tuple], options: dict | None = None) -> list:
    """Serialize RDF as JSON-LD (ref lib/fromRdf.js:45-271). Returns
    expanded-form array."""
    options = options or {}
    use_rdf_type = options.get("useRdfType", False)
    use_native_types = options.get("useNativeTypes", False)
    rdf_direction = options.get("rdfDirection")

    default_graph = {}
    graph_map = {"@default": default_graph}
    referenced_once = {}

    for quad in dataset:
        subj, pred, obj_value, obj_termtype, obj_datatype, obj_language, \
            graph = quad
        name = graph if graph else "@default"
        node_map = graph_map.setdefault(name, {})
        if graph and graph not in default_graph:
            default_graph[graph] = {"@id": graph}

        node = node_map.setdefault(subj, {"@id": subj})

        # object node bookkeeping
        object_is_node = obj_termtype in ("NamedNode", "BlankNode")
        if object_is_node and obj_value not in node_map:
            node_map[obj_value] = {"@id": obj_value}

        if pred == RDF_TYPE and not use_rdf_type and object_is_node:
            add_value_list(node, "@type", obj_value)
            continue

        value = _rdf_to_object(quad, use_native_types, rdf_direction)
        add_value_obj(node, pred, value)

        # keep track of bnodes referenced exactly once (for list stitching,
        # ref lib/fromRdf.js:95-118)
        if object_is_node:
            if obj_value == RDF_NIL:
                obj_node = node_map[obj_value]
                usages = obj_node.setdefault("usages", [])
                usages.append({"node": node, "property": pred,
                               "value": value})
            elif obj_value in referenced_once:
                referenced_once[obj_value] = False
            elif obj_termtype == "BlankNode":
                referenced_once[obj_value] = {"node": node, "property": pred,
                                              "value": value}

    # list reconstruction (ref lib/fromRdf.js:186-246)
    for name, graph_object in graph_map.items():
        if RDF_NIL not in graph_object:
            continue
        nil = graph_object[RDF_NIL]
        for usage in nil.get("usages", []):
            node = usage["node"]
            property_ = usage["property"]
            head = usage["value"]
            list_ = []
            list_nodes = []
            while property_ == RDF_REST and \
                    isinstance(referenced_once.get(node["@id"]), dict) and \
                    _is_well_formed_list_node(node):
                list_.append(node[RDF_FIRST][0])
                list_nodes.append(node["@id"])
                node_usage = referenced_once[node["@id"]]
                node = node_usage["node"]
                property_ = node_usage["property"]
                head = node_usage["value"]
                if not is_blank_node_id(node["@id"]):
                    break
            del head["@id"]
            head["@list"] = list(reversed(list_))
            for n in list_nodes:
                graph_object.pop(n, None)
        nil.pop("usages", None)

    result = []
    for subj in sorted(default_graph.keys()):
        node = default_graph[subj]
        if subj in graph_map and subj != "@default":
            graph_entry = node["@graph"] = []
            g = graph_map[subj]
            for s in sorted(g.keys()):
                n = g[s]
                n.pop("usages", None)
                if len(n) > 1 or "@id" not in n:
                    graph_entry.append(n)
        node.pop("usages", None)
        if len(node) > 1 or "@id" not in node:
            result.append(node)
    return result


def _is_well_formed_list_node(node) -> bool:
    """(ref lib/fromRdf.js:207-220, 253-271)"""
    keys = set(node.keys()) - {"usages"}
    if not is_blank_node_id(node.get("@id", "")):
        return False
    allowed = {"@id", RDF_FIRST, RDF_REST, "@type"}
    if not keys.issubset(allowed):
        return False
    first = node.get(RDF_FIRST)
    rest = node.get(RDF_REST)
    if not (isinstance(first, list) and len(first) == 1):
        return False
    if not (isinstance(rest, list) and len(rest) == 1):
        return False
    if "@type" in node and node["@type"] != [RDF + "List"]:
        return False
    return True


def add_value_list(node, key, value):
    node.setdefault(key, [])
    if value not in node[key]:
        node[key].append(value)


def add_value_obj(node, key, value):
    node.setdefault(key, []).append(value)


_INTEGER_RE = re.compile(r"^[+-]?[0-9]+$")
_DOUBLE_RE = re.compile(
    r"^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([Ee][+-]?[0-9]+)?$")

# ECMA-262 StringToNumber grammar (what isFinite()'s ToNumber accepts):
# optionally-signed decimal/Infinity, or UNSIGNED 0x/0b/0o radix forms.
# No underscores (Python float()/int() accept those; JS does not).
_JS_DECIMAL_RE = re.compile(
    r"^[+-]?(Infinity|[0-9]+\.?[0-9]*([eE][+-]?[0-9]+)?"
    r"|\.[0-9]+([eE][+-]?[0-9]+)?)$")
_JS_RADIX_RE = re.compile(r"^(0[xX][0-9a-fA-F]+|0[bB][01]+|0[oO][0-7]+)$")


def _js_to_number(s: str) -> float:
    """JS Number(string) / ToNumber: trimmed decimal (signed, Infinity
    allowed), unsigned hex/binary/octal, '' → 0, NaN otherwise."""
    s = s.strip()
    if s == "":
        return 0.0
    if _JS_RADIX_RE.match(s):
        base = {"x": 16, "b": 2, "o": 8}[s[1].lower()]
        try:
            return float(int(s, base))
        except OverflowError:
            return float("inf")
    if not _JS_DECIMAL_RE.match(s):
        return float("nan")
    try:
        return float(s)  # 'Infinity'/huge exponents handled by float()
    except ValueError:  # pragma: no cover - grammar already validated
        return float("nan")


def _js_is_numeric(v) -> bool:
    """JS types.isNumeric: !isNaN(parseFloat(v)) && isFinite(v). The
    parseFloat gate needs a numeric PREFIX; isFinite applies ToNumber
    to the WHOLE string — which also coerces hex/binary/octal forms
    ('0x10' → 16), so those count as numeric in the reference."""
    if isinstance(v, bool):
        return False
    if isinstance(v, (int, float)):
        return v == v and v not in (float("inf"), float("-inf"))
    if not isinstance(v, str):
        return False
    pf = js_parse_float(v)
    if pf != pf or pf in (float("inf"), float("-inf")):
        return False
    n = _js_to_number(v)
    return n == n and n not in (float("inf"), float("-inf"))


def _rdf_to_object(quad, use_native_types: bool, rdf_direction):
    """Literal/term → JSON-LD value object — exact port of
    ref lib/fromRdf.js:281-347. Notables: JSON literals parse (and
    bogus ones raise) UNCONDITIONALLY; under useNativeTypes the four
    xsd core types never emit @type, even when conversion fails
    (unconvertible 'true'/'42'-style strings stay strings, untyped);
    integers convert only when parseInt round-trips exactly; the i18n
    direction split only applies when useNativeTypes is off."""
    _, _, obj_value, obj_termtype, obj_datatype, obj_language, _ = quad
    if obj_termtype in ("NamedNode", "BlankNode"):
        return {"@id": obj_value}
    rval = {"@value": obj_value}
    if obj_language:
        rval["@language"] = obj_language
        return rval
    datatype = obj_datatype or XSD_STRING
    if datatype == RDF_JSON_LITERAL:
        datatype = "@json"
        try:
            rval["@value"] = parse_json(obj_value)
        except Exception as e:
            # ref lib/fromRdf.js:298-307
            raise JsonLdError("JSON literal could not be parsed.",
                              "invalid JSON literal") from e
    if use_native_types:
        v = rval["@value"]
        if datatype == XSD_BOOLEAN:
            if v == "true":
                rval["@value"] = True
            elif v == "false":
                rval["@value"] = False
        elif _js_is_numeric(v):
            if datatype == XSD_INTEGER and isinstance(v, str):
                m = re.match(r"\s*[+-]?\d+", v)
                if m:
                    # parseInt(v,10).toFixed(0) === v (ref
                    # lib/fromRdf.js:316-319). parseInt yields a
                    # float64 (correctly rounded); toFixed(0) of an
                    # integral float64 < 1e21 is its exact decimal
                    # digits, >= 1e21 falls back to exponential
                    # notation and never equals a digit string. So
                    # exactly-representable ints >= 2^53 (powers of
                    # two etc.) DO round-trip and convert in JS.
                    try:
                        i_f = float(int(m.group(0)))
                    except OverflowError:
                        i_f = float("inf")
                    if abs(i_f) < 1e21 and str(int(i_f)) == v:
                        rval["@value"] = int(i_f)
            elif datatype == XSD_DOUBLE and isinstance(v, str):
                rval["@value"] = js_parse_float(v)
        # do not add native type for the xsd core four
        if datatype not in (XSD_BOOLEAN, XSD_INTEGER, XSD_DOUBLE,
                            XSD_STRING):
            rval["@type"] = datatype
        return rval
    if rdf_direction == "i18n-datatype" and datatype.startswith(I18N_NS):
        # ref lib/fromRdf.js:333-341: `type.split(/[#_]/)` — direction
        # is the SECOND segment only (extra underscores drop), and the
        # assignment is UNCONDITIONAL, so an empty direction
        # ('i18n#en_') round-trips as "@direction": "" (fuzz seed
        # 49000245). With NO underscore the JS assignment is
        # `undefined` (invisible in JSON) — mirrored by omitting.
        parts = re.split(r"[#_]", datatype)
        lang = parts[1] if len(parts) > 1 else ""
        if lang:
            rval["@language"] = lang
        if len(parts) > 2:
            rval["@direction"] = parts[2]
        return rval
    if datatype == "@json":
        rval["@type"] = "@json"
        return rval
    if datatype != XSD_STRING:
        rval["@type"] = datatype
    return rval
