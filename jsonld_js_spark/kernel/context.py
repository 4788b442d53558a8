"""Context resolution & processing — JSON-LD 1.1 §4 algorithms.

From-scratch Python implementation of the Context Processing and IRI
Expansion algorithms (W3C JSON-LD 1.1 API §4.1, §4.2, §5.2), with the
behavior the reference exhibits (ref: lib/context.js:46-421 process,
:437-940 createTermDefinition, :956-1143 expandIri, :1153-1344 initial/
inverse context, :1410-1447 getContextValue).

Design for Spark (SURVEY.md §2.2): contexts are resolved & processed
ONCE on the driver into plain picklable dicts, then broadcast; executors
only do dict lookups. Nothing in this module touches Spark.
"""

from __future__ import annotations

import copy
import json
import re
from typing import Callable, Optional

from .util import (
    JsonLdError, KEYWORDS, MEMO_CAP, is_keyword, is_keyword_form,
    is_absolute_iri, prepend_base, parse_iri,
)

CONTAINER_KEYWORDS = frozenset(
    ["@graph", "@id", "@index", "@language", "@list", "@set", "@type"])

# ref lib/context.js:644 — /[:\/\?#\[\]@]$/ (IRI gen-delims only)
_GEN_DELIM_END = re.compile(r"[:/?#\[\]@]$")


def initial_context(options: dict) -> dict:
    """Fresh active context (ref lib/context.js:1153-1177)."""
    # the reference defaults the document base to '' (lib/jsonld.js
    # _setDefaults: base: options.base || '') — an empty base still
    # participates in RFC 3986 resolution (e.g. './' → '/')
    base = options.get("base")
    if base is None:
        base = ""
    return {
        "mappings": {},
        "@base": parse_iri(base),
        "base_iri": base,
        # True once any processed context explicitly sets @base —
        # compaction's base-relative tail branches on it
        # (ref compact.js:941-952 `'@base' in activeCtx`: the key only
        # exists when a context set it)
        "_ctx_has_base": False,
        "@vocab": None,
        "@language": None,
        "@direction": None,
        "processingMode": options.get("processingMode", "json-ld-1.1"),
        "previousContext": None,
        "protected": {},
        "inverse": None,
        "_uuid": 0,
    }


def _clone_active_context(active_ctx: dict) -> dict:
    child = dict(active_ctx)
    child["mappings"] = dict(active_ctx["mappings"])
    child["protected"] = dict(active_ctx["protected"])
    child["inverse"] = None
    # never share the IRI memos: the clone's mappings may diverge
    child.pop("_iri_memo", None)
    child.pop("_ci_memo", None)
    child.pop("_val_memo", None)
    child.pop("_obj_memo", None)
    child.pop("_shape_memo", None)
    # the processed-context cache is keyed per active-ctx IDENTITY
    # (the reference's getProcessed(activeCtx)) — a clone is a new
    # identity, so it starts empty
    child.pop("_processed_ctx_cache", None)
    # REFERENCE QUIRK (ref lib/context.js:1364-1385): the clone copies
    # @base/@language/@vocab but NOT @direction, and processingMode is
    # restored after the clone (ref :195-196) while @direction never
    # is — so the default direction silently dies at every context
    # processing step (scoped/inline/array-element contexts). Verified
    # against node (difftest seed 121171); faithful GIGO parity.
    child.pop("@direction", None)
    return child


def revert_to_previous_context(active_ctx: dict) -> dict:
    """ref lib/context.js:1391-1396: revertToPreviousContext returns
    previousContext.CLONE(), and the clone copies only mappings/
    protected/@base/@language/@vocab — so @direction AND processingMode
    are both dropped by a revert. The mode drop is observable: 1.0-mode
    keyword gates stop firing for anything processed on top of a
    reverted context (e.g. a property-scoped context with
    @propagate:true after a non-propagating top context — verified vs
    node, fuzz seed 25500111). Clone lazily, only when a dropped field
    is present."""
    prev = active_ctx.get("previousContext")
    if prev is None:
        return active_ctx
    # lazy clone: the drop is observable only for @direction or the
    # 1.0 mode string (every mode check compares == "json-ld-1.0";
    # None and the default "json-ld-1.1" are indistinguishable)
    if "@direction" in prev or \
            prev.get("processingMode") == "json-ld-1.0":
        prev = _clone_active_context(prev)
        prev["processingMode"] = None
    return prev


def process_context(active_ctx: dict, local_ctx, options: dict,
                    *, override_protected: bool = False,
                    propagate: bool = True) -> dict:
    """Context Processing Algorithm (ref lib/context.js:46-421).

    `options['contextResolver']` is a callable url -> parsed JSON context
    document (our file/dict-based stand-in for the reference's document
    loader; resolution happens on the Spark driver only).
    """
    # NOTE: a null local context is a RESET, not a no-op — the
    # reference wraps null into [null] and runs the reset branch
    # (ref lib/context.js:57-62 + util.asArray)
    ctxs = local_ctx if isinstance(local_ctx, list) else [local_ctx]
    if len(ctxs) == 0:
        return active_ctx

    rval = active_ctx

    # the reference overrides `propagate` from the FIRST context of the
    # array only (ref lib/context.js:72-76) and records previousContext
    # once up front (ref :85-89) — per-element @propagate is merely
    # validated (ref :282-301)
    if ctxs and isinstance(ctxs[0], dict) and \
            isinstance(ctxs[0].get("@propagate"), bool):
        propagate = ctxs[0]["@propagate"]
    if not propagate and active_ctx.get("previousContext") is None:
        rval = _clone_active_context(active_ctx)
        rval["previousContext"] = active_ctx
        # REFERENCE QUIRK (node-verified; fuzz seed 185008): this
        # pre-loop clone drops processingMode (lib/context.js:1364-1385
        # copies only @base/@language/@vocab) and the per-iteration
        # restore (ref :195-197) reads it back from the SAME cloned
        # ctx — so a FIRST context carrying boolean @propagate erases
        # the processing mode for the rest of the document: the
        # 1.0-mode keyword checks (including @propagate's own 1.0
        # error, @json type bans, @version conflicts) stop firing and
        # the engine behaves as 1.1
        rval["processingMode"] = None

    for ctx in ctxs:
        # the reference reassigns activeCtx to the previous iteration's
        # rval (ref lib/context.js:95) — the mode checks below read THIS,
        # which is how the pre-loop clone's mode erasure reaches them
        active_ctx = rval
        if ctx is None:
            # reset (ref lib/context.js:159-173); protected terms block reset
            if not override_protected and rval["protected"]:
                raise JsonLdError(
                    "Tried to nullify a context with protected terms outside "
                    "of a term definition.", "invalid context nullification")
            prev = rval if not propagate else None
            rval = initial_context(options)
            if prev is not None:
                rval["previousContext"] = prev
            continue

        if isinstance(ctx, str):
            resolver = options.get("contextResolver")
            if resolver is None:
                raise JsonLdError(
                    f"cannot resolve remote context {ctx}: no resolver",
                    "loading remote context failed")
            remote = resolver(ctx)
            if isinstance(remote, dict) and "@context" in remote:
                remote = remote["@context"]
            rval = process_context(rval, remote, options,
                                   override_protected=override_protected,
                                   propagate=propagate)
            continue

        if not isinstance(ctx, dict):
            raise JsonLdError("@context must be an object.", "invalid local context")

        # processed-context cache (ref ContextResolver.js:71 keys the
        # resolved context by JSON.stringify(ctx) — insertion order —
        # and context.js:147-150/:417 reuses the PROCESSED result per
        # active context): an identical inline context processed twice
        # against the same active context returns the first result and
        # fires NO second round of expansionMap events (observable in
        # the event stream for top-level array docs — fuzz seed
        # 78000106). Stored on the active ctx, which plays the role of
        # the reference's getProcessed(activeCtx) identity key; clones
        # drop it like the IRI memos.
        cache = active_ctx.get("_processed_ctx_cache")
        if cache is None:
            cache = active_ctx["_processed_ctx_cache"] = {}
        try:
            # memo-purity rule (CLAUDE.md): the key captures every
            # options input the dict branch reads — options.base plus
            # the resolver IDENTITY (@import resolution), held strongly
            # in the cache value so its id cannot be recycled — since
            # perf options like activeCtx/preparedFrame can carry an
            # active context across API calls with different options
            ckey = (json.dumps(ctx), options.get("base"))
        except (TypeError, ValueError):
            ckey = None
        resolver = options.get("contextResolver")
        if ckey is not None:
            hit = cache.get(ckey)
            if hit is not None and hit[1] is resolver:
                rval = hit[0]
                continue

        rval = _clone_active_context(rval)
        # keywords that arrived ONLY via @import (reference ordering
        # quirk — see the @import branch below)
        imported_only_kws: set = set()

        # @version (ref lib/context.js:175-197)
        if "@version" in ctx:
            if ctx["@version"] != 1.1:
                raise JsonLdError("Unsupported JSON-LD version: " +
                                  str(ctx["@version"]), "invalid @version value")
            if active_ctx.get("processingMode") == "json-ld-1.0":
                # ref lib/context.js:182-189
                raise JsonLdError(
                    f"@version: {ctx['@version']} not compatible with "
                    "json-ld-1.0.", "processing mode conflict")
            rval["processingMode"] = "json-ld-1.1"

        # @base (ref lib/context.js:200-218). The reference stores the
        # CONTEXT-set base chain in activeCtx['@base'] WITHOUT the API
        # base option — a relative @base resolves against the previous
        # context @base only (initially undefined → parse('') → "./"
        # becomes "/") — and composes options.base lazily at expandIri
        # time (ref :1086-1097 prependBase(options.base, ctx@base)).
        # We keep that chain in `ctx_base` and compose the EFFECTIVE
        # base (`base_iri`/`@base`) eagerly, which is equivalent
        # because options.base is fixed per API call (the activeCtx
        # perf option contract requires matching base, api.py:203).
        if "@base" in ctx:
            base = ctx["@base"]
            prev_cb = rval.get("ctx_base") if rval.get("_ctx_has_base") \
                else ""
            rval["_ctx_has_base"] = True
            if base is None:
                cb = None
            elif isinstance(base, str):
                if is_absolute_iri(base):
                    cb = base
                else:
                    # prepend_base(None, x) == x matches the
                    # reference's prependBase(null, x) after @base:null
                    cb = prepend_base(prev_cb, base)
            else:
                raise JsonLdError('"@base" must be a string or null.',
                                  "invalid base IRI")
            rval["ctx_base"] = cb
            if cb:
                eff = prepend_base(options.get("base") or "", cb)
                rval["base_iri"] = eff
                rval["@base"] = parse_iri(eff)
            else:
                # JS-falsy ctx @base (null or '') → IRIs stay relative
                # (ref :1090-1092)
                rval["base_iri"] = None
                rval["@base"] = None

        # @vocab (ref lib/context.js:219-239)
        if "@vocab" in ctx:
            value = ctx["@vocab"]
            if value is None:
                rval["@vocab"] = None
            elif not isinstance(value, str):
                raise JsonLdError('"@vocab" must be a string or null.',
                                  "invalid vocab mapping")
            elif not is_absolute_iri(value) and \
                    rval["processingMode"] == "json-ld-1.0":
                raise JsonLdError('"@vocab" must be an absolute IRI.',
                                  "invalid vocab mapping")
            else:
                rval["@vocab"] = expand_iri(rval, value, vocab=True,
                                            base=True, options=options)

        # @language (ref lib/context.js:241-257)
        if "@language" in ctx:
            value = ctx["@language"]
            if value is None:
                rval["@language"] = None
            elif not isinstance(value, str):
                raise JsonLdError('"@language" must be a string or null.',
                                  "invalid default language")
            else:
                rval["@language"] = value.lower()

        # @direction (ref lib/context.js:258-281)
        if "@direction" in ctx:
            value = ctx["@direction"]
            if rval["processingMode"] == "json-ld-1.0":
                raise JsonLdError("@direction not allowed in JSON-LD 1.0.",
                                  "invalid context member")
            if value is None:
                rval["@direction"] = None
            elif value not in ("ltr", "rtl"):
                raise JsonLdError('"@direction" must be "ltr" or "rtl".',
                                  "invalid base direction")
            else:
                rval["@direction"] = value

        # @propagate (ref lib/context.js:282-301) — validated only; the
        # caller passes the effective propagate flag.
        if "@propagate" in ctx:
            value = ctx["@propagate"]
            if active_ctx.get("processingMode") == "json-ld-1.0":
                # ref lib/context.js:285-291
                raise JsonLdError(
                    "@propagate not compatible with json-ld-1.0.",
                    "invalid context entry")
            if not isinstance(value, bool):
                raise JsonLdError("@propagate must be boolean.",
                                  "invalid @propagate value")

        # @import (JSON-LD 1.1; ref lib/context.js:302-364) — processed
        # AFTER @version..@propagate (error ORDERING is observable: a
        # 1.0-mode ctx with both @direction and @import raises
        # @direction's 'invalid context member' first, fuzz seed 966082)
        if "@import" in ctx:
            value = ctx["@import"]
            # the 1.0 gate fires BEFORE the string check and reads the
            # ACTIVE ctx's mode (ref lib/context.js:304-310 — so the
            # @propagate mode-erasure quirk suppresses it too)
            if active_ctx["processingMode"] == "json-ld-1.0":
                raise JsonLdError("@import not compatible with "
                                  "json-ld-1.0.", "invalid context entry")
            if not isinstance(value, str):
                raise JsonLdError("@import must be a string.",
                                  "invalid @import value")
            resolver = options.get("contextResolver")
            if resolver is None:
                raise JsonLdError(
                    f"cannot resolve @import {value}: no resolver",
                    "loading remote context failed")
            imported = resolver(value)
            if isinstance(imported, dict) and "@context" in imported:
                imported = imported["@context"]
            if not isinstance(imported, dict):
                raise JsonLdError("@import must reference a context object.",
                                  "invalid remote context")
            if "@import" in imported:
                raise JsonLdError("imported context must not include @import.",
                                  "invalid context entry")
            # REFERENCE ORDERING QUIRK MIRRORED (verified vs node): the
            # @version..@propagate passes above already ran on the
            # ORIGINAL ctx, so any of those keywords arriving ONLY via
            # the import is neither processed nor marked `defined` —
            # the TERM LOOP reaches it (in insertion order: ctx keys
            # first, imported-only keys appended, ref :348-352) and
            # raises 'keyword redefinition'. @protected is read after
            # @import and merges fine.
            imported_only_kws = {
                kw for kw in ("@version", "@base", "@vocab", "@language",
                              "@direction", "@propagate")
                if kw in imported and kw not in ctx}
            merged = {k: v for k, v in ctx.items() if k != "@import"}
            for k, v in imported.items():
                if k not in merged:
                    merged[k] = v
            ctx = merged

        # term definitions
        protected_default = ctx.get("@protected", False)
        defined = {
            "@base": True, "@direction": True, "@import": True,
            "@language": True, "@propagate": True,
            # REFERENCE BUG MIRRORED (lib/context.js:367): '@protected'
            # is stored in `defined` with its RAW boolean — the key
            # loop then treats a '@protected': false entry as an
            # in-progress term definition and throws 'cyclic IRI
            # mapping' (verified against node)
            "@protected": bool(protected_default),
            "@version": True, "@vocab": True,
        }
        # keywords that arrived only via @import were never processed →
        # not `defined` → the loop hits them and createTermDefinition
        # raises 'keyword redefinition' in insertion order, exactly
        # like the reference (see @import quirk above)
        for kw in imported_only_kws:
            defined.pop(kw, None)
        for key in ctx:
            if key in defined:
                if defined[key]:
                    continue
                raise JsonLdError("Cyclical context definition detected.",
                                  "cyclic IRI mapping")
            create_term_definition(
                rval, ctx, key, defined, options,
                override_protected=override_protected,
                protected_default=protected_default)

        # ref lib/context.js:417 setProcessed — safe to share: every
        # later processing step clones before mutating
        if ckey is not None:
            cache[ckey] = (rval, resolver)

    return rval


def create_term_definition(active_ctx: dict, local_ctx: dict, term: str,
                           defined: dict, options: dict, *,
                           override_protected: bool = False,
                           protected_default: bool = False):
    """Create Term Definition (ref lib/context.js:437-940)."""
    if term in defined:
        if defined[term]:
            return
        raise JsonLdError(f"Cyclical context definition for term {term}.",
                          "cyclic IRI mapping")
    defined[term] = False

    value = local_ctx.get(term)

    if term == "@type" and isinstance(value, dict) and \
            value.get("@container", "@set") == "@set" and \
            active_ctx["processingMode"] != "json-ld-1.0":
        valid_keys = {"@container", "@id", "@protected"}
        if not set(value).issubset(valid_keys):
            raise JsonLdError("Invalid @type definition.", "keyword redefinition")
    elif is_keyword(term):
        raise JsonLdError(f"Keywords cannot be overridden: {term}.",
                          "keyword redefinition")
    elif is_keyword_form(term):
        # @-form terms are ignored with a warning (ref lib/context.js:470-478)
        defined[term] = True
        return

    if term == "":
        raise JsonLdError("Term must not be empty.", "invalid term definition")

    previous = active_ctx["mappings"].get(term)

    simple_term = False
    if isinstance(value, str) or value is None:
        simple_term = True
        value = {"@id": value}
    if not isinstance(value, dict):
        raise JsonLdError("Term definition must be string/null/object.",
                          "invalid term definition")

    mapping = {"reverse": False, "protected": False, "_term_has_colon": ":" in term}
    active_ctx["mappings"][term] = mapping

    # term definitions may only contain expected keywords; the allowed
    # set depends on processing mode (ref lib/context.js:524-540)
    term_valid_keys = {"@container", "@id", "@language", "@reverse",
                       "@type"}
    if active_ctx["processingMode"] != "json-ld-1.0":
        term_valid_keys |= {"@context", "@direction", "@index", "@nest",
                            "@prefix", "@protected"}
    for kw in value:
        if kw not in term_valid_keys:
            raise JsonLdError(
                f"a term definition must not contain {kw}.",
                "invalid term definition")

    if "@protected" in value:
        if active_ctx["processingMode"] == "json-ld-1.0":
            raise JsonLdError("@protected not allowed in JSON-LD 1.0.",
                              "invalid term definition")
        mapping["protected"] = bool(value["@protected"])
    elif protected_default:
        mapping["protected"] = True
    if mapping["protected"]:
        active_ctx["protected"][term] = True

    if "@reverse" in value:
        if "@id" in value:
            raise JsonLdError("@reverse term must not contain @id.",
                              "invalid reverse property")
        if "@nest" in value:
            raise JsonLdError("@reverse term must not contain @nest.",
                              "invalid reverse property")
        reverse = value["@reverse"]
        if not isinstance(reverse, str):
            raise JsonLdError("@reverse value must be a string.",
                              "invalid IRI mapping")
        if not is_keyword(reverse) and is_keyword_form(reverse):
            # '@'-reserved NON-keyword values are ignored with a
            # warning; actual keywords fall through and fail the
            # absolute-IRI check (ref lib/context.js:567-577)
            defined[term] = True
            del active_ctx["mappings"][term]
            return
        iri = expand_iri(active_ctx, reverse, vocab=True,
                         local_ctx=local_ctx, defined=defined)
        if not is_absolute_iri(iri) and not iri.startswith("_:"):
            raise JsonLdError("@reverse value must expand to absolute IRI "
                              "or blank node.", "invalid IRI mapping")
        mapping["@id"] = iri
        mapping["reverse"] = True
    elif "@id" in value:
        iri_value = value["@id"]
        if iri_value is None:
            mapping["@id"] = None  # explicitly decoupled term
        elif not isinstance(iri_value, str):
            raise JsonLdError("@id value must be a string.", "invalid IRI mapping")
        elif not is_keyword(iri_value) and is_keyword_form(iri_value):
            defined[term] = True
            del active_ctx["mappings"][term]
            return
        elif iri_value != term:
            iri = expand_iri(active_ctx, iri_value, vocab=True,
                             local_ctx=local_ctx, defined=defined)
            if not is_absolute_iri(iri) and not is_keyword(iri) and \
                    not iri.startswith("_:"):
                raise JsonLdError(
                    "@id must expand to IRI/keyword/blank node.",
                    "invalid IRI mapping")
            if iri == "@context":
                raise JsonLdError("@id cannot equal @context.",
                                  "invalid keyword alias")
            # a term that itself looks like an IRI/CURIE must expand to
            # its own definition (ref lib/context.js:625-638)
            if re.search(r"(?::[^:])|/", term):
                term_defined = dict(defined)
                term_defined[term] = True
                term_iri = expand_iri(active_ctx, term, vocab=True,
                                      local_ctx=local_ctx,
                                      defined=term_defined)
                if term_iri != iri:
                    raise JsonLdError(
                        "term in form of IRI must expand to definition.",
                        "invalid IRI mapping")
            mapping["@id"] = iri
            # _prefix mirrors the reference's raw JS expression value
            # (ref lib/context.js:642-644): `simpleTerm &&
            # !termHasColon && id.match(/[:\/\?#\[\]@]$/)` — i.e.
            # False for dict-form terms, None (JS null) for simple
            # string terms not ending in a gen-delim, and the match
            # array for those that do. The three classes matter: the
            # protected-redefinition _deepCompare (lib/context.js:920)
            # distinguishes false vs null vs array, so a dict→string
            # redefinition of a protected term errors even when @id
            # is identical. Consumers only test truthiness.
            if simple_term and not mapping["_term_has_colon"]:
                m = _GEN_DELIM_END.search(iri)
                mapping["_prefix"] = [m.group(0)] if m else None
            else:
                mapping["_prefix"] = False
    if "@id" not in mapping:
        if mapping["_term_has_colon"]:
            prefix = term.split(":", 1)[0]
            if prefix in local_ctx:
                create_term_definition(active_ctx, local_ctx, prefix, defined,
                                       options,
                                       override_protected=override_protected,
                                       protected_default=protected_default)
            pdef = active_ctx["mappings"].get(prefix)
            if pdef and pdef.get("@id"):
                suffix = term[len(prefix) + 1:]
                mapping["@id"] = pdef["@id"] + suffix
            else:
                mapping["@id"] = term  # absolute IRI or bnode used as term
        elif term == "@type":
            mapping["@id"] = "@type"
        else:
            if active_ctx["@vocab"] is None:
                raise JsonLdError(
                    f"No @vocab to make IRI for term {term}.",
                    "invalid IRI mapping")
            mapping["@id"] = active_ctx["@vocab"] + term

    # protected redefinition check (ref lib/context.js:920-938 + :1510-1553)
    if previous is not None and previous.get("protected") and \
            not override_protected:
        cmp_prev = {k: v for k, v in previous.items() if k != "protected"}
        cmp_new = {k: v for k, v in mapping.items() if k != "protected"}
        # mapping is incomplete here; finish building then compare below
        _finish_term_definition(active_ctx, local_ctx, term, value, mapping,
                                defined, options)
        cmp_new = {k: v for k, v in mapping.items() if k != "protected"}
        if cmp_prev != cmp_new:
            raise JsonLdError(
                f"Attempt to redefine protected term {term}.",
                "protected term redefinition")
        mapping["protected"] = True
        active_ctx["mappings"][term] = mapping
        defined[term] = True
        return

    _finish_term_definition(active_ctx, local_ctx, term, value, mapping,
                            defined, options)
    defined[term] = True


def _finish_term_definition(active_ctx, local_ctx, term, value, mapping,
                            defined, options):
    """@type/@container/@index/@context/@language/@prefix/@direction/@nest
    parts of createTermDefinition, in the REFERENCE'S key order (ref
    lib/context.js:693-912) — the order decides WHICH error surfaces
    when a definition has several invalid keys (e.g. @type:@json in 1.0
    mode plus a 1.0-invalid @container must raise 'invalid type
    mapping', not 'invalid container mapping')."""
    mode10 = active_ctx["processingMode"] == "json-ld-1.0"

    if "@type" in value:
        type_ = value["@type"]
        if not isinstance(type_, str):
            raise JsonLdError("@type must be a string.",
                              "invalid type mapping")
        if type_ == "@json" or type_ == "@none":
            if mode10:
                raise JsonLdError(f"{type_} needs JSON-LD 1.1.",
                                  "invalid type mapping")
        elif type_ not in ("@id", "@vocab"):
            type_ = expand_iri(active_ctx, type_, vocab=True,
                               local_ctx=local_ctx, defined=defined)
            if not is_absolute_iri(type_):
                raise JsonLdError("@type must expand to an absolute IRI.",
                                  "invalid type mapping")
            if type_.startswith("_:"):
                raise JsonLdError("@type must not be a blank node.",
                                  "invalid type mapping")
        mapping["@type"] = type_

    if "@container" in value:
        raw = value["@container"]
        if isinstance(raw, str):
            container = [raw]
        elif isinstance(raw, list):
            container = raw
        elif not raw:
            container = []
        else:
            raise JsonLdError("Invalid @container value.",
                              "invalid container mapping")
        # exact port of ref lib/context.js:735-798
        valid_containers = ["@list", "@set", "@index", "@language"]
        is_valid = True
        has_set = "@set" in container
        if not mode10:
            valid_containers += ["@graph", "@id", "@type"]
            if "@list" in container:
                if len(container) != 1:
                    raise JsonLdError(
                        "@container with @list must have no other values.",
                        "invalid container mapping")
            elif "@graph" in container:
                if any(c not in ("@graph", "@id", "@index", "@set")
                       for c in container):
                    raise JsonLdError(
                        "@container with @graph must have no other values "
                        "than @id, @index, @set.",
                        "invalid container mapping")
            else:
                # any other combination is only X or [X, @set]
                is_valid = is_valid and \
                    len(container) <= (2 if has_set else 1)
        else:
            # 1.0: a single string from the 1.0-valid set
            is_valid = is_valid and not isinstance(raw, list)
            is_valid = is_valid and len(container) <= 1
        is_valid = is_valid and all(c in valid_containers
                                    for c in container)
        is_valid = is_valid and not (has_set and "@list" in container)
        if not is_valid:
            raise JsonLdError(
                "@container value must be one of: "
                + ", ".join(valid_containers), "invalid container mapping")
        if mapping["reverse"] and not all(c in ("@index", "@set")
                                          for c in container):
            raise JsonLdError("reverse term container must be @index/@set.",
                              "invalid reverse property")
        mapping["@container"] = sorted(container)
        if not container:
            # explicit EMPTY @container: JS stores [] (truthy) while an
            # absent @container stays undefined — the inverse context
            # distinguishes them (fuzz seed 171174)
            mapping["_container_empty_explicit"] = True
        # @type-container terms default their type mapping to @id and
        # only allow @id/@vocab — INSIDE the @container block in the
        # reference (ref lib/context.js:771-784), so this error beats
        # any later @index/@context/... error
        if "@type" in mapping["@container"]:
            mapping.setdefault("@type", "@id")
            if mapping["@type"] not in ("@id", "@vocab"):
                raise JsonLdError(
                    "container: @type requires @type to be @id or @vocab.",
                    "invalid type mapping")
    else:
        mapping["@container"] = []

    if "@index" in value:
        if mode10 or "@index" not in mapping["@container"]:
            raise JsonLdError("@index requires @container:@index.",
                              "invalid term definition")
        idx = value["@index"]
        if not isinstance(idx, str) or idx.startswith("@"):
            raise JsonLdError("@index must be a non-keyword string.",
                              "invalid term definition")
        mapping["@index"] = idx

    if "@context" in value:
        if mode10:
            raise JsonLdError("scoped contexts need JSON-LD 1.1.",
                              "invalid term definition")
        mapping["@context"] = value["@context"]
        # validate eagerly (spec: invalid scoped context fails at
        # definition) — against a CLONE, exactly like the reference
        # (ref lib/context.js:389-396 `activeCtx: rval.clone()`): the
        # clone is a fresh identity, so the processed-context cache
        # entry from this validation dies with it instead of serving a
        # mid-definition context to later scoped-context processing
        try:
            process_context(_clone_active_context(active_ctx),
                            value["@context"], options,
                            override_protected=True)
        except JsonLdError as e:
            raise JsonLdError(f"Invalid scoped context for term {term}: "
                              f"{e.message}", "invalid scoped context")

    if "@language" in value and "@type" not in value:
        lang = value["@language"]
        if lang is not None and not isinstance(lang, str):
            raise JsonLdError("@language must be string or null.",
                              "invalid language mapping")
        mapping["@language"] = lang.lower() if isinstance(lang, str) else None
        mapping["_has_language"] = True

    if "@prefix" in value:
        # ref lib/context.js:860 — term.match(/:|\//): '/' counts as
        # compound too, not just ':'
        if mapping["_term_has_colon"] or "/" in term:
            raise JsonLdError("@prefix on compound term.",
                              "invalid term definition")
        if mode10:
            raise JsonLdError("@prefix needs JSON-LD 1.1.",
                              "invalid term definition")
        if is_keyword(mapping.get("@id")):
            raise JsonLdError("keywords may not be used as prefixes.",
                              "invalid term definition")
        if not isinstance(value["@prefix"], bool):
            raise JsonLdError("@prefix must be boolean.",
                              "invalid @prefix value")
        mapping["_prefix"] = value["@prefix"]

    # unlike @language, the reference's @direction block has NO
    # "@type not in value" condition (ref lib/context.js:882-893) — a
    # term with @type:@none AND @direction keeps its direction mapping
    if "@direction" in value:
        direction = value["@direction"]
        if direction is not None and direction not in ("ltr", "rtl"):
            raise JsonLdError('@direction must be "ltr"/"rtl"/null.',
                              "invalid base direction")
        mapping["@direction"] = direction
        mapping["_has_direction"] = True

    if "@nest" in value:
        if mode10:
            raise JsonLdError("@nest needs JSON-LD 1.1.",
                              "invalid term definition")
        nest = value["@nest"]
        if not isinstance(nest, str) or \
                (nest != "@nest" and nest.startswith("@")):
            raise JsonLdError('@nest must be "@nest" or a term.',
                              "invalid @nest value")
        mapping["@nest"] = nest


_MISS = object()


def iri_memos(active_ctx: dict) -> tuple:
    """The context's four expand_iri memos, indexed 2 * vocab + base.
    A hit is what expand_iri returns for that string, with no local
    context and no expansionMap (keywords are never stored)."""
    memos = active_ctx.get("_iri_memo")
    if memos is None:
        memos = active_ctx["_iri_memo"] = ({}, {}, {}, {})
    return memos


def expand_iri(active_ctx: dict, value, *, vocab: bool = False,
               base: bool = False, local_ctx: dict = None,
               defined: dict = None, options: dict = None,
               type_expansion: bool = False) -> Optional[str]:
    """IRI Expansion (ref lib/context.js:956-1143). Hot path — on executors
    this is driven vectorized over pandas Series against the broadcast
    context (see jsonld_js_spark.functions.iri).

    When `options` carries an `expansionMap` callable (the reference's
    per-event callback surface, ref lib/jsonld.js:109-117), the memo is
    bypassed (callbacks have side effects) and the hook-aware tail
    emits `prependedIri`/`relativeIri` events
    (ref lib/context.js:1056-1141)."""
    if value is None:
        return value
    if value.__class__ is not str and not isinstance(value, str):
        return value
    if value in KEYWORDS:  # is_keyword inlined (hot path)
        return value

    emap = options.get("expansionMap") if options else None

    # memo on the (immutable-after-processing) active context — IRI
    # expansion dominates kernel CPU; safe only outside the context-
    # processing phase (local_ctx participates in term creation) and
    # only without a side-effecting event callback
    memo = None
    if local_ctx is None and emap is None:
        # one dict per (vocab, base) flag pair: memo hits are plain
        # string lookups (no per-call key-tuple allocation/hash —
        # this is the hottest call site in the kernel)
        memo = iri_memos(active_ctx)[(2 if vocab else 0) +
                                     (1 if base else 0)]
        hit = memo.get(value, _MISS)
        if hit is not _MISS:
            return hit
        # every miss inserts below; capped like util._ABS_IRI_CACHE,
        # because a shared worker context sees every conversation's @ids
        if len(memo) > MEMO_CAP:
            memo.clear()
        if not vocab:
            # an IRI whose first colon is followed by "//" expands to
            # itself (_expand_iri_tail returns it before any lookup) —
            # the common unique node @id
            i = value.find(":")
            if i > 0 and value.startswith("//", i + 1):
                memo[value] = value
                return value

    if is_keyword_form(value):
        if memo is not None:
            memo[value] = None
        return None

    # create dependency definitions first (during context processing)
    if local_ctx is not None and value in local_ctx and \
            defined is not None and not defined.get(value):
        create_term_definition(active_ctx, local_ctx, value, defined, {})

    if emap is not None:
        return _expand_iri_tail_mapped(active_ctx, value, vocab, base,
                                       local_ctx, defined, options,
                                       type_expansion)
    result = _expand_iri_tail(active_ctx, value, vocab, base,
                              local_ctx, defined)
    if memo is not None:
        memo[value] = result
    return result


def _expand_iri_tail(active_ctx, value, vocab, base, local_ctx, defined):
    if vocab:
        mapping = active_ctx["mappings"].get(value)
        # a mapping WITHOUT '@id' (mid-definition partial — terms are
        # inserted into mappings before their @id is resolved, ref
        # lib/context.js:520) falls THROUGH to the CURIE split (ref
        # :1005-1010 `'@id' in mapping`): that is how a compound
        # term's own-definition check reaches the prefix definition
        # and surfaces ITS error first (seed 41000422)
        if mapping is not None and "@id" in mapping:
            return mapping["@id"]

    if len(value) > 1 and ":" in value[1:]:
        prefix, suffix = value.split(":", 1)
        if prefix == "_" or suffix.startswith("//"):
            return value
        if local_ctx is not None and prefix in local_ctx and \
                defined is not None and not defined.get(prefix):
            create_term_definition(active_ctx, local_ctx, prefix, defined, {})
        pdef = active_ctx["mappings"].get(prefix)
        if pdef and pdef.get("@id") and pdef.get("_prefix"):
            return pdef["@id"] + suffix
        if is_absolute_iri(value):
            return value

    if vocab and active_ctx["@vocab"] is not None:
        return active_ctx["@vocab"] + value
    if base and active_ctx["base_iri"] is not None:
        return prepend_base(active_ctx["@base"], value)
    return value


def _expand_iri_tail_mapped(active_ctx, value, vocab, base, local_ctx,
                            defined, options, type_expansion):
    """expand_iri tail with expansionMap events — mirrors the reference's
    instrumented `_expandIri` (ref lib/context.js:1040-1141):
    `prependedIri` fires when @vocab/@base prepending occurs,
    `relativeIri` fires when the final result is not an absolute IRI.
    A callback return of None keeps the default result (the kernel's
    analog of the reference's `undefined` contract); any other return
    value replaces it."""
    emap = options["expansionMap"]
    if vocab:
        mapping = active_ctx["mappings"].get(value)
        if mapping is not None and "@id" in mapping:
            return mapping["@id"]

    if len(value) > 1 and ":" in value[1:]:
        prefix, suffix = value.split(":", 1)
        if prefix == "_" or suffix.startswith("//"):
            return value
        if local_ctx is not None and prefix in local_ctx and \
                defined is not None and not defined.get(prefix):
            create_term_definition(active_ctx, local_ctx, prefix, defined, {})
        pdef = active_ctx["mappings"].get(prefix)
        if pdef and pdef.get("@id") and pdef.get("_prefix"):
            return pdef["@id"] + suffix
        if is_absolute_iri(value):
            return value

    result = value
    if vocab and active_ctx["@vocab"] is not None:
        prepended = active_ctx["@vocab"] + value
        mapped = emap({
            "prependedIri": {
                "type": "@vocab", "vocab": active_ctx["@vocab"],
                "value": value, "typeExpansion": type_expansion,
                "result": prepended},
            "activeCtx": active_ctx, "options": options})
        result = prepended if mapped is None else mapped
    elif base:
        # the reference fires the @base event even when @base is
        # null (result stays relative, ref lib/context.js:1080-1117)
        if active_ctx["base_iri"] is not None:
            prepended = prepend_base(active_ctx["@base"], value)
        else:
            prepended = value
        mapped = emap({
            "prependedIri": {
                "type": "@base", "base": active_ctx.get("base_iri"),
                "value": value, "typeExpansion": type_expansion,
                "result": prepended},
            "activeCtx": active_ctx, "options": options})
        result = prepended if mapped is None else mapped

    if isinstance(result, str) and not is_absolute_iri(result):
        mapped = emap({"relativeIri": result, "activeCtx": active_ctx,
                       "typeExpansion": type_expansion, "options": options})
        if mapped is not None:
            result = mapped
    return result


def get_scoped_context(ctx: dict, key):
    """Scoped-@context lookup that distinguishes ABSENT (JS undefined —
    returns _MISS) from a stored null: the reference's getContextValue
    returns the stored entry whenever '@context' in the term mapping
    (ref lib/context.js:1414-1420), and every scoped-context caller
    gates on `!_isUndefined(ctx)` — so an explicit `"@context": null`
    must be PROCESSED (context reset; 'invalid context nullification'
    over protected terms without overrideProtected), never skipped."""
    if key is None or not isinstance(key, str):
        return _MISS
    mapping = ctx["mappings"].get(key)
    if mapping is not None and "@context" in mapping:
        return mapping["@context"]
    return _MISS


def get_context_value(ctx: dict, key: Optional[str], type_: str):
    """Term → @type/@container/@language/... with context defaults
    (ref lib/context.js:1410-1447)."""
    if key is None:
        if type_ == "@context":
            return None
        return None if type_ not in ("@language", "@direction") else ctx.get(type_)
    mapping = ctx["mappings"].get(key)
    if mapping is not None:
        if type_ == "@language" and mapping.get("_has_language"):
            return mapping.get("@language")
        if type_ == "@direction" and mapping.get("_has_direction"):
            return mapping.get("@direction")
        if type_ in mapping:
            return mapping[type_]
    if type_ in ("@language", "@direction"):
        return ctx.get(type_)
    if type_ == "@container":
        return None
    return None


# --- inverse context (for compaction; ref lib/context.js:1184-1344) ----------

def _compare_shortest_least(a: str, b: str) -> int:
    """Shortest-then-lexicographically-least (ref lib/util.js:419-430)."""
    if len(a) < len(b):
        return -1
    if len(b) < len(a):
        return 1
    return -1 if a < b else (0 if a == b else 1)


def get_inverse_context(active_ctx: dict) -> dict:
    """Inverse Context Creation (ref lib/context.js:1184-1300). Built once on
    the driver; shipped inside the broadcast context."""
    if active_ctx.get("inverse"):
        return active_ctx["inverse"]
    inverse = {}
    fast_curie_map = {}
    iris_to_terms = {}
    default_language = (active_ctx.get("@language") or "@none").lower()

    import functools
    terms = sorted(active_ctx["mappings"].keys(),
                   key=functools.cmp_to_key(_compare_shortest_least))
    for term in terms:
        mapping = active_ctx["mappings"][term]
        if mapping is None or mapping.get("@id") is None:
            continue
        # JS-falsy parity (ref lib/context.js:1213-1214): an EXPLICIT
        # empty @container array is truthy in JS, so `[] || '@none'`
        # keeps it and the join yields the '' container key — the term
        # is then never selectable. An ABSENT @container (undefined in
        # JS, our [] default) means '@none' (fuzz seed 171174)
        raw_container = mapping.get("@container")
        if raw_container:
            container = "".join(sorted(raw_container))
        elif mapping.get("_container_empty_explicit"):
            container = ""
        else:
            container = "@none"
        iri = mapping["@id"]
        entry = inverse.setdefault(iri, {})
        _add_iri_to_terms(iris_to_terms, iri, term)
        container_map = entry.setdefault(container, {
            "@language": {}, "@type": {}, "@any": {}})
        container_map["@any"].setdefault("@none", term)
        if mapping.get("reverse"):
            container_map["@type"].setdefault("@reverse", term)
        elif mapping.get("@type") == "@none":
            # ref lib/context.js:1258-1261: leaf key is '@none'
            container_map["@any"].setdefault("@none", term)
            container_map["@language"].setdefault("@none", term)
            container_map["@type"].setdefault("@none", term)
        elif "@type" in mapping:
            container_map["@type"].setdefault(mapping["@type"], term)
        elif mapping.get("_has_language") and mapping.get("_has_direction"):
            lang = mapping.get("@language")
            dir_ = mapping.get("@direction")
            if lang and dir_:
                container_map["@language"].setdefault(f"{lang}_{dir_}", term)
            elif lang:
                container_map["@language"].setdefault(lang, term)
            elif dir_:
                container_map["@language"].setdefault(f"_{dir_}", term)
            else:
                container_map["@language"].setdefault("@null", term)
        elif mapping.get("_has_language"):
            lang = (mapping.get("@language") or "@null").lower()
            container_map["@language"].setdefault(lang, term)
        elif mapping.get("_has_direction"):
            dir_ = mapping.get("@direction")
            key = f"_{dir_}" if dir_ else "@none"
            container_map["@language"].setdefault(key, term)
        elif active_ctx.get("@direction"):
            lang_dir = f"{default_language}_{active_ctx['@direction']}"
            container_map["@language"].setdefault(lang_dir, term)
            container_map["@language"].setdefault("@none", term)
            container_map["@type"].setdefault("@none", term)
        else:
            container_map["@language"].setdefault(default_language, term)
            container_map["@language"].setdefault("@none", term)
            container_map["@type"].setdefault("@none", term)

    active_ctx["inverse"] = inverse
    active_ctx["fast_curie_map"] = _build_fast_curie_map(iris_to_terms)
    return inverse


def _add_iri_to_terms(iris_to_terms, iri, term):
    iris_to_terms.setdefault(iri, []).append(term)


def _build_fast_curie_map(iris_to_terms: dict) -> dict:
    """Per-first-letter prefix map over vocab IRIs for longest-prefix CURIE
    selection (ref lib/context.js:1302-1344). Stored as
    {first_char: [(iri, [terms…]) sorted by len asc]}."""
    fast = {}
    for iri, terms in iris_to_terms.items():
        if not iri:
            continue
        fast.setdefault(iri[0], []).append((iri, terms))
    for k in fast:
        fast[k].sort(key=lambda p: len(p[0]))
    return fast


# --- driver-side context resolver ---------------------------------------------

class ContextResolver:
    """File/dict-based stand-in for the reference's remote document loader +
    ContextResolver caching (ref lib/ContextResolver.js:31-208,
    lib/documentLoaders/node.js). Network is intentionally unsupported in
    this sandbox: contexts come from an in-memory dict or a local directory.
    Resolution happens ONCE on the Spark driver; the processed active
    context is then frozen & broadcast (SURVEY.md §2.2)."""

    MAX_CONTEXT_URLS = 10

    def __init__(self, documents: dict | None = None,
                 loader: Callable[[str], dict] | None = None):
        self._documents = documents or {}
        self._loader = loader
        self._cache: dict = {}
        self._cycles: set = set()

    def __call__(self, url: str):
        if url in self._cycles:
            raise JsonLdError(f"Cyclical @context URLs: {url}",
                              "recursive context inclusion")
        if len(self._cycles) > self.MAX_CONTEXT_URLS:
            raise JsonLdError("Maximum number of @context URLs exceeded.",
                              "loading remote context failed")
        if url in self._cache:
            return self._cache[url]
        self._cycles.add(url)
        try:
            if url in self._documents:
                doc = copy.deepcopy(self._documents[url])
            elif self._loader is not None:
                doc = self._loader(url)
            else:
                raise JsonLdError(f"Unknown context URL: {url}",
                                  "loading remote context failed")
            self._cache[url] = doc
            return doc
        finally:
            self._cycles.discard(url)
