"""Shared utilities for the JSON-LD kernel.

Pure Python, zero Spark imports. This module re-implements, from the
public W3C JSON-LD 1.1 specs and from behavioral study of the reference
(theowenyoung/jsonld.js), the small helper layer the algorithms need:

- keyword / IRI / blank-node classification   (ref: lib/context.js:1473-1508,
  lib/url.js:280-291, lib/graphTypes.js:106-119)
- RFC 3986 relative-IRI resolution            (ref: lib/url.js:63-145,230-274)
- blank-node identifier issuer                (ref: rdf-canonize IdentifierIssuer
  contract, used at lib/nodeMap.js:28, lib/toRdf.js:50 — stripped in the
  fork, re-specified in SURVEY.md header)
- JSON-LD value equality / set-insert         (ref: lib/util.js:249-306,385-409)
- canonical xsd:double / xsd:integer lexical forms (ref: lib/toRdf.js:230-261,
  lib/types.js:35-56)
- JCS (RFC 8785) canonical JSON serialization (ref: npm `canonicalize`,
  used at lib/toRdf.js:9,231-233)

All code here is written from scratch against the public specs; the
reference citations only document *what* behavior is matched.
"""

from __future__ import annotations

import json
import math
import re

# --- constants (W3C JSON-LD 1.1 / RDF 1.1 vocabularies) ---------------------

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"

RDF_TYPE = RDF + "type"
RDF_FIRST = RDF + "first"
RDF_REST = RDF + "rest"
RDF_NIL = RDF + "nil"
RDF_LANGSTRING = RDF + "langString"
RDF_JSON_LITERAL = RDF + "JSON"

XSD_STRING = XSD + "string"
XSD_BOOLEAN = XSD + "boolean"
XSD_INTEGER = XSD + "integer"
XSD_DOUBLE = XSD + "double"

# closed keyword list (JSON-LD 1.1 §9; ref lib/context.js:1473-1508)
KEYWORDS = frozenset([
    "@base", "@container", "@context", "@default", "@direction", "@embed",
    "@explicit", "@graph", "@id", "@included", "@index", "@json",
    "@language", "@list", "@nest", "@none", "@omitDefault", "@prefix",
    "@preserve", "@protected", "@requireAll", "@reverse",
    "@set", "@type", "@value", "@version", "@vocab",
])
# NOTE: "@import" and "@propagate" are deliberately ABSENT — the
# reference's isKeyword switch (ref lib/context.js:1473-1507) omits
# both, so they are keyword-FORM only: a term/@id/@reverse of
# "@import" warns + is ignored, and a node-level "@import" property
# expands to null (dropped), rather than passing through as a keyword.
# Context processing handles them by explicit key name.

# anything matching @[a-zA-Z]+ is "keyword-like" and ignored as a term
_KEYWORD_FORM_RE = re.compile(r"^@[A-Za-z]+$")

# absolute IRI: scheme ":" hier-part (ref lib/url.js:280-291 uses a similar
# pragmatic regex rather than a full RFC 3987 grammar)
_ABSOLUTE_IRI_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+\-.]*|_):[^\s]*$")

# BCP47 (well-formed, pragmatic; ref lib/expand.js:44)
BCP47_RE = re.compile(
    r"^[A-Za-z]{1,8}(-[A-Za-z0-9]{1,8})*$"
)


class JsonLdError(Exception):
    """Processing error with a spec error code (ref lib/JsonLdError.js)."""

    def __init__(self, message: str, code: str = "invalid JSON-LD syntax"):
        super().__init__(f"{code}: {message}")
        self.code = code
        self.message = message


def is_keyword(value) -> bool:
    return isinstance(value, str) and value in KEYWORDS


def is_keyword_form(value) -> bool:
    """True for @-words that look like keywords (term defs for these are
    ignored with a warning per JSON-LD 1.1; ref lib/context.js:470-478)."""
    return isinstance(value, str) and bool(_KEYWORD_FORM_RE.match(value))


# Entry cap shared by the kernel's memos: the per-process ones
# (_ABS_IRI_CACHE, nodemap._NODE_SHAPES, rdf._RDF_SHAPES) and the ones
# that ride a processed context (_iri_memo, _val_memo, _obj_memo,
# _shape_memo, _ci_memo). A memo is cleared before an insert once it
# holds more than this, so a stream of unique IRIs or shapes cannot
# grow a worker's memory with the data.
MEMO_CAP = 65536

_ABS_IRI_CACHE: dict = {}


def is_absolute_iri(value) -> bool:
    """Pure predicate of the string — memoized (expand re-checks the
    same predicate/type IRIs per key and toRDF per node; the regex is
    ~40% of the check's cost at transcript scale). Capped at
    MEMO_CAP."""
    if value.__class__ is str:
        hit = _ABS_IRI_CACHE.get(value)
        if hit is None:
            if len(_ABS_IRI_CACHE) > MEMO_CAP:
                _ABS_IRI_CACHE.clear()
            hit = _ABS_IRI_CACHE[value] = bool(_ABSOLUTE_IRI_RE.match(value))
        return hit
    return isinstance(value, str) and bool(_ABSOLUTE_IRI_RE.match(value))


def is_blank_node_id(value) -> bool:
    return isinstance(value, str) and value.startswith("_:")


def is_relative_iri(value) -> bool:
    return isinstance(value, str) and not is_keyword(value) and \
        not is_absolute_iri(value)


# --- object-shape discriminators (ref lib/graphTypes.js:18-119) --------------

def is_scalar(v) -> bool:
    return isinstance(v, (str, int, float, bool)) and not isinstance(v, bool) \
        or isinstance(v, bool)


def is_value(v) -> bool:
    return isinstance(v, dict) and "@value" in v


def is_list(v) -> bool:
    return isinstance(v, dict) and "@list" in v


def is_graph(v) -> bool:
    """Graph object: has @graph and only @id/@index as other keys
    (ref lib/graphTypes.js:84-94)."""
    return isinstance(v, dict) and "@graph" in v and \
        len([k for k in v if k not in ("@id", "@index")]) == 1


def is_simple_graph(v) -> bool:
    return is_graph(v) and "@id" not in v


def is_subject(v) -> bool:
    """Node object (ref lib/graphTypes.js:18-32)."""
    return isinstance(v, dict) and "@value" not in v and "@set" not in v \
        and "@list" not in v and (len(v) > 1 or "@id" not in v)


def is_subject_reference(v) -> bool:
    return isinstance(v, dict) and len(v) == 1 and "@id" in v


def is_default_object(v) -> bool:
    return isinstance(v, dict) and "@default" in v


def is_node_object(v) -> bool:
    return is_subject(v) or is_subject_reference(v)


def is_empty_object(v) -> bool:
    return isinstance(v, dict) and len(v) == 0


# --- RFC 3986 resolution (ref lib/url.js) ------------------------------------

_IRI_PARSE_RE = re.compile(
    r"^(?:([^:/?#]+):)?(?://([^/?#]*))?([^?#]*)(?:\?([^#]*))?(?:#(.*))?$"
)


def parse_iri(iri: str):
    m = _IRI_PARSE_RE.match(iri)
    scheme, authority, path, query, fragment = m.groups()
    return {
        "scheme": scheme,
        "authority": authority,
        "path": path or "",
        "query": query,
        "fragment": fragment,
    }


def remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 (ref lib/url.js:230-274)."""
    if not path:
        return ""
    output = []
    inp = path.split("/")
    while inp:
        seg = inp.pop(0)
        done = len(inp) == 0
        if seg == ".":
            if done:
                output.append("")
            continue
        if seg == "..":
            if output:
                output.pop()
            if done:
                output.append("")
            continue
        output.append(seg)
    if path.startswith("/") and output and output[0] != "":
        output.insert(0, "")
    if len(output) == 1 and output[0] == "":
        return "/"
    return "/".join(output)


def prepend_base(base, iri: str) -> str:
    """Resolve `iri` against `base` per RFC 3986 §5.2.2
    (ref lib/url.js:63-145)."""
    if base is None:
        return iri
    if is_absolute_iri(iri):
        return iri
    if isinstance(base, str):
        base = parse_iri(base)
    rel = parse_iri(iri)
    transform = {"protocol": (base["scheme"] + ":") if base["scheme"] else ""}
    if rel["authority"] is not None:
        transform["authority"] = rel["authority"]
        path = remove_dot_segments(rel["path"])
        query = rel["query"]
    else:
        transform["authority"] = base["authority"]
        if rel["path"] == "":
            path = base["path"]
            query = rel["query"] if rel["query"] is not None else base["query"]
        else:
            if rel["path"].startswith("/"):
                path = remove_dot_segments(rel["path"])
            else:
                bpath = base["path"]
                if base["authority"] is not None and bpath == "":
                    path = "/" + rel["path"]
                else:
                    pos = bpath.rfind("/")
                    merged = (bpath[: pos + 1] if pos >= 0 else "") + rel["path"]
                    path = merged
                path = remove_dot_segments(path)
            query = rel["query"]
    out = transform["protocol"]
    if transform["authority"] is not None:
        out += "//" + transform["authority"]
    out += path
    if query is not None:
        out += "?" + query
    if rel["fragment"] is not None:
        out += "#" + rel["fragment"]
    if out == "":
        out = "./"
    return out


def remove_base(base, iri: str) -> str:
    """Make `iri` relative to `base` where possible (ref lib/url.js:155-223).
    Used only by compaction.

    JS semantics preserved exactly: the base ROOT is always
    `protocol + '//' + authority` for any non-empty base — so a
    scheme-less base (e.g. the '/' that '@base: \"./\"' resolves to)
    yields root '//', which a path-only IRI never starts with, and the
    IRI is returned unrelativized. The keep-last-segment guard uses JS
    truthiness on fragment/query ('' counts as absent)."""
    if base is None:
        return iri
    if isinstance(base, str):
        base_parsed = parse_iri(base)
    else:
        base_parsed = base
    href_empty = not (base_parsed["scheme"] or
                      base_parsed["authority"] is not None or
                      base_parsed["path"] or
                      base_parsed["query"] is not None or
                      base_parsed["fragment"] is not None)
    root = ""
    if not href_empty:
        root = ((base_parsed["scheme"] + ":") if base_parsed["scheme"]
                else "") + "//" + (base_parsed["authority"] or "")
    elif iri.find("//") != 0:
        # support network-path reference with empty base
        root = "//"
    if not iri.startswith(root):
        return iri
    rel = parse_iri(iri[len(root):])
    base_segs = remove_dot_segments(base_parsed["path"]).split("/")
    iri_segs = remove_dot_segments(rel["path"]).split("/")
    # do not remove the last segment unless there is a hash or query
    last = 0 if (rel["fragment"] or rel["query"]) else 1
    while base_segs and len(iri_segs) > last:
        if base_segs[0] != iri_segs[0]:
            break
        base_segs.pop(0)
        iri_segs.pop(0)
    rval = ""
    if base_segs:
        base_segs.pop()  # last segment is the base document name
        rval += "../" * len(base_segs)
    rval += "/".join(iri_segs)
    if rel["query"] is not None:
        rval += "?" + rel["query"]
    if rel["fragment"] is not None:
        rval += "#" + rel["fragment"]
    if rval == "":
        rval = "./"
    return rval


# --- blank-node issuer --------------------------------------------------------

class IdentifierIssuer:
    """Stable old→new identifier map issuing `prefix0, prefix1, …` in
    first-encounter order (public rdf-canonize contract; the fork strips the
    dependency — see SURVEY.md header — so this is a from-scratch impl)."""

    __slots__ = ("prefix", "counter", "existing", "order")

    def __init__(self, prefix: str = "_:b"):
        self.prefix = prefix
        self.counter = 0
        self.existing: dict = {}
        self.order: list = []

    def get_id(self, old=None) -> str:
        if old is not None and old in self.existing:
            return self.existing[old]
        identifier = f"{self.prefix}{self.counter}"
        self.counter += 1
        if old is not None:
            self.existing[old] = identifier
            self.order.append(old)
        return identifier

    def has_id(self, old) -> bool:
        return old in self.existing


# --- JSON-LD value equality + set-semantics insert ---------------------------

def _js_strict_eq(a, b) -> bool:
    """JS === : false !== 0 and true !== 1 (unlike Python bool/int
    equality), and OBJECTS/ARRAYS compare by REFERENCE — two
    separately-built equal lists are !== (e.g. a value object whose
    @type is an array from a type-map expansion never dedups against
    a twin, ref lib/util.js:393-396; fuzz seed 172041)."""
    if a is b:
        return not a != a  # NaN !== NaN even for the same object
    if isinstance(a, (dict, list)) or isinstance(b, (dict, list)):
        return False  # reference-compare, and a is not b here
    if isinstance(a, bool) != isinstance(b, bool):
        return False
    return a == b


def compare_values(v1, v2) -> bool:
    """JSON-LD value equality (ref lib/util.js:385-409). Hot path of
    node-map set-semantics insertion: the branches are ordered so a
    dict pair never pays a deep == (the reference's v1 === v2 is a
    reference compare there, and the original guard discarded the
    result anyway) and non-dict pairs skip the value/@id probes."""
    if not isinstance(v1, dict):
        if isinstance(v2, dict):
            return False
        return v1 is v2 or (v1 == v2 and type(v1) is type(v2))
    if not isinstance(v2, dict):
        return False
    # both dicts (the scalar clause can't return True for these)
    if "@value" in v1 and "@value" in v2 and \
            _js_strict_eq(v1.get("@value"), v2.get("@value")) and \
            _js_strict_eq(v1.get("@type"), v2.get("@type")) and \
            _js_strict_eq(v1.get("@language"), v2.get("@language")) and \
            _js_strict_eq(v1.get("@index"), v2.get("@index")):
        return True
    if "@id" in v1 and "@id" in v2:
        return v1["@id"] == v2["@id"]
    return False


def has_value(subject: dict, prop: str, value) -> bool:
    if prop not in subject:
        return False
    existing = subject[prop]
    if is_list(existing):
        existing = existing["@list"]
    if isinstance(existing, list):
        for e in existing:  # plain loop: no genexpr frame per element
            if compare_values(value, e):
                return True
        return False
    return compare_values(value, existing)


def add_value(subject: dict, prop: str, value, *, property_is_array=False,
              value_is_array=False, allow_duplicate=True, prepend=False):
    """Set-semantics property insert (ref lib/util.js:249-306)."""
    if value_is_array:
        subject[prop] = value
        return
    if isinstance(value, list):
        if len(value) == 0 and property_is_array and prop not in subject:
            subject[prop] = []
        for v in value:
            add_value(subject, prop, v, property_is_array=property_is_array,
                      allow_duplicate=allow_duplicate, prepend=prepend)
        return
    if prop in subject:
        has_v = not allow_duplicate and has_value(subject, prop, value)
        if not isinstance(subject[prop], list) and \
                (not has_v or property_is_array):
            subject[prop] = [subject[prop]]
        if not has_v:
            if prepend:
                subject[prop].insert(0, value)
            else:
                subject[prop].append(value)
    else:
        subject[prop] = [value] if property_is_array else value


# --- canonical literal lexical forms -----------------------------------------

def _js_number_has_dot(v: float) -> bool:
    """ES Number::toString(10) of a finite float contains '.'.
    Decimal form is used for -6 < n <= 21 (n = decimal exponent of
    the shortest round-trip digits): dot iff non-integral.
    Exponential form otherwise: dot iff more than one significant
    digit. CPython's repr and V8's String() both emit the unique
    shortest round-trip digit string, so the digit/exponent pair
    matches."""
    if v == 0:
        return False
    from decimal import Decimal
    t = Decimal(repr(abs(v))).normalize().as_tuple()
    k = len(t.digits)
    n = t.exponent + k
    if k <= n <= 21:
        return False  # integral decimal form, e.g. String(1e16)
    if (n <= -6 or n > 21) and k == 1:
        return False  # single-digit exponential, e.g. "1e-7", "5e-324"
    return True


def is_double(v) -> bool:
    """JS `types.isDouble`: String(v) contains '.' or |v| >= 1e21
    (ref lib/types.js:35-36) — the EXACT ES-toString dot rule, not
    Python is_integer(): String(1e-7) is "1e-7" and String(5e-324) is
    "5e-324" (no dot, so the reference calls them INTEGERS and emits
    toFixed(0) = "0"), while String(2.5e-10) has a dot (round-4 fuzz
    seeds 9100027/9100075). JS has no int/float distinction, so a
    JSON `3.0` is the integer 3 to the reference. NaN: String "NaN"
    has no dot and Math.abs(NaN) >= 1e21 is false → NOT a double
    (it rides the integer branch as toFixed(0) = "NaN"); +/-Infinity:
    Math.abs >= 1e21 → double."""
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return False
    if isinstance(v, float):
        import math
        if math.isnan(v):
            return False
        if math.isinf(v):
            return True
        return _js_number_has_dot(v) or abs(v) >= 1e21
    return abs(v) >= 1e21


def is_integer_number(v) -> bool:
    """The reference's integer-literal branch is just `isNumber` —
    ANY non-bool number that the isDouble test (checked FIRST in
    _object_to_rdf, exactly as ref lib/toRdf.js:237-246) did not
    claim rides toFixed(0) + xsd:integer. That includes 1e-7 ("0"),
    -1e-7 ("-0") and NaN ("NaN")."""
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def js_parse_float(value) -> float:
    """JS parseFloat semantics: longest valid numeric prefix, NaN on
    junk (ref lib/toRdf.js:238-240 falls back to parseFloat for
    non-number @values with a double datatype)."""
    if isinstance(value, (int, float)) and not isinstance(value, bool):
        return float(value)
    if not isinstance(value, str):
        return float("nan")
    m = re.match(r"\s*[+-]?(Infinity|\d+\.?\d*(?:[eE][+-]?\d+)?"
                 r"|\.\d+(?:[eE][+-]?\d+)?)", value)
    if not m:
        return float("nan")
    text = m.group(0).strip()
    if text.endswith("Infinity"):
        return float("-inf") if text.startswith("-") else float("inf")
    # trim a dangling exponent marker JS would ignore ('1e' → 1)
    while text and text[-1] in "eE+-.":
        text = text[:-1]
    try:
        return float(text)
    except ValueError:
        return float("nan")


def canonical_double(value: float) -> str:
    """Canonical xsd:double lexical form, byte-identical to the reference's
    `value.toExponential(15).replace(/(\\d)0*e\\+?/, '$1E')`
    (ref lib/toRdf.js:237-243). e.g. 1.1 → '1.1E0', 1.0 → '1.0E0',
    4e-7 → '4.0E-7', 123.45 → '1.2345E2'. NaN/Infinity mirror JS
    toExponential output, not XSD canonical INF."""
    if math.isnan(value):
        return "NaN"
    if math.isinf(value):
        return "Infinity" if value > 0 else "-Infinity"
    if value == 0:
        value = 0.0  # JS toExponential drops the sign of -0
    s = f"{value:.15e}"  # e.g. '1.100000000000000e+00'
    mant, exp = s.split("e")
    exp_i = int(exp)
    js = f"{mant}e{'+' if exp_i >= 0 else ''}{exp_i}"
    return re.sub(r"(\d)0*e\+?", r"\1E", js, count=1)


def canonical_integer(value) -> str:
    """xsd:integer lexical form — JS `toFixed(0)` exactly (ref
    lib/toRdf.js:244-246): sign taken from `x < 0` (so -0.0 → "0" but
    -1e-7 → "-0"), magnitude rounded to the nearest integer with ties
    to the LARGER n (away from zero on |x|: (-0.5).toFixed(0) is
    "-1"); NaN → "NaN"."""
    if isinstance(value, float):
        if value != value:
            return "NaN"
        neg = value < 0
        a = abs(value)
        n = math.floor(a + 0.5)
        # floor(a+0.5) misrounds the halfway-representable edge where
        # a+0.5 rounds UP in binary (e.g. 0.49999999999999994): guard
        if n - a > 0.5:
            n -= 1
        s = str(int(n))
        return "-" + s if neg else s
    return str(int(value))


# --- JCS: RFC 8785 canonical JSON (ref npm `canonicalize`) --------------------

def _es6_number(value) -> str:
    """ECMA-262 Number::toString(10) — the serialization JCS requires."""
    if isinstance(value, int) and not isinstance(value, bool):
        return str(value)
    if value != value or math.isinf(value):
        raise JsonLdError("NaN/Infinity not allowed in JSON", "invalid JSON literal")
    if value == 0:
        return "0"
    # shortest round-trip digits
    r = repr(float(value))
    if "e" in r or "E" in r:
        mant, _, exp = r.partition("e")
        exp_i = int(exp)
    else:
        mant, exp_i = r, 0
    neg = mant.startswith("-")
    if neg:
        mant = mant[1:]
    if "." in mant:
        int_part, frac = mant.split(".")
    else:
        int_part, frac = mant, ""
    digits = (int_part + frac).lstrip("0")
    # decimal exponent k s.t. value = 0.digits * 10^(k)
    point = len(int_part) - (len(int_part + frac) - len(digits)) + exp_i
    digits = digits.rstrip("0") or "0"
    n = len(digits)
    # ECMA-262 7.1.12.1 ToString applied to Number
    if n <= point <= 21:
        out = digits + "0" * (point - n)
    elif 0 < point <= 21:
        out = digits[:point] + "." + digits[point:]
    elif -6 < point <= 0:
        out = "0." + "0" * (-point) + digits
    else:
        e = point - 1
        mantissa = digits[0] + ("." + digits[1:] if n > 1 else "")
        out = f"{mantissa}e{'+' if e >= 0 else '-'}{abs(e)}"
    return ("-" if neg else "") + out


def _jcs_escape(s: str) -> str:
    out = []
    for ch in s:
        o = ord(ch)
        if ch == '"':
            out.append('\\"')
        elif ch == "\\":
            out.append("\\\\")
        elif ch == "\b":
            out.append("\\b")
        elif ch == "\f":
            out.append("\\f")
        elif ch == "\n":
            out.append("\\n")
        elif ch == "\r":
            out.append("\\r")
        elif ch == "\t":
            out.append("\\t")
        elif o < 0x20:
            out.append(f"\\u{o:04x}")
        else:
            out.append(ch)
    return "".join(out)


def _utf16_key(s: str):
    b = s.encode("utf-16-be")
    return tuple(int.from_bytes(b[i:i + 2], "big") for i in range(0, len(b), 2))


def jcs_canonicalize(value) -> str:
    """RFC 8785 canonical JSON serialization, from scratch. Matches the npm
    `canonicalize` package the reference uses for @json literals
    (ref lib/toRdf.js:231-233)."""
    if value is None:
        return "null"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, (int, float)):
        return _es6_number(value)
    if isinstance(value, str):
        return '"' + _jcs_escape(value) + '"'
    if isinstance(value, list):
        return "[" + ",".join(jcs_canonicalize(v) for v in value) + "]"
    if isinstance(value, dict):
        keys = sorted(value.keys(), key=_utf16_key)
        return "{" + ",".join(
            '"' + _jcs_escape(k) + '":' + jcs_canonicalize(value[k])
            for k in keys) + "}"
    raise JsonLdError(f"cannot canonicalize {type(value)}", "invalid JSON literal")


def parse_json(value: str):
    return json.loads(value)
