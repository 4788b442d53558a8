"""Expansion — JSON-LD 1.1 API §5.1, from scratch.

Behavioral reference: lib/expand.js:68-392 (dispatcher), :411-917
(_expandObject), :930-988 (_expandValue), :1000-1031 (language maps),
:1033-1125 (index maps). Spark role (SURVEY.md §2.3): expansion is a
document-local tree rewrite — it runs inside Arrow UDFs with the active
context coming from a broadcast; no shuffle.
"""

from __future__ import annotations

from .context import (
    _MISS as _CTX_MISS, expand_iri, get_context_value, get_scoped_context,
    iri_memos, revert_to_previous_context,
    process_context,
)
from .util import (
    JsonLdError, BCP47_RE, is_keyword, is_absolute_iri, add_value,
    is_value, is_list, is_graph, is_subject,
    is_empty_object, MEMO_CAP,
)

_VALUE_KEYS = {"@value", "@type", "@language", "@direction", "@index"}


def _emap(options, info):
    """Invoke the per-event expansionMap if configured
    (ref lib/jsonld.js:109-117, threaded through lib/expand.js:96-136,
    :304, :352, :375, :452, :818). Python contract: the callback
    returning None selects the default behavior (the reference's
    `undefined`); any other return value replaces the dropped value."""
    emap = options.get("expansionMap") if options else None
    if emap is None:
        return None
    return emap(info)


def _get_type_scoped_context(active_ctx, options):
    """Revert a type-scoped context — SINGLE step, like the reference's
    revertToPreviousContext (ref lib/expand.js:196-199 +
    lib/context.js:1391-1396), not a walk to the chain root: with
    @propagate:false contexts stacked under type-scoped ones the outer
    terms must survive one revert.

    The reference reverts BY CLONING, and its clone drops @direction
    AND processingMode (lib/context.js:1364-1385 quirk — see
    revert_to_previous_context)."""
    return revert_to_previous_context(active_ctx)


def expand(active_ctx, element, active_property=None, options=None,
           inside_list=False, type_scoped_context=None,
           inside_index=False):
    """Expansion Algorithm (ref lib/expand.js:68-392)."""
    options = options or {}

    if element is None:
        return None

    if active_property == "@default":
        options = dict(options)
        options["isFrame"] = False

    if not isinstance(element, (dict, list)):
        # scalar
        if not inside_list and (
                active_property is None or
                expand_iri(active_ctx, active_property, vocab=True,
                           options=options) == "@graph"):
            # free-floating scalar dropped unless custom mapped
            # (ref lib/expand.js:92-108)
            return _emap(options, {
                "unmappedValue": element, "activeCtx": active_ctx,
                "activeProperty": active_property, "options": options,
                "insideList": inside_list})
        return _expand_value(active_ctx, active_property, element, options)

    if isinstance(element, list):
        rval = []
        container = get_context_value(
            active_ctx, active_property, "@container") or []
        inside_list = inside_list or "@list" in container
        # scalar fast path: hoist the active-property expansion out of
        # the loop (pure memo hits). Disabled under an expansionMap —
        # the per-item expandIri events are part of the observable
        # callback stream (golden-tested sequences)
        fast_ap = None
        if options.get("expansionMap") is None and \
                active_property is not None and \
                active_property != "@default":
            fast_ap = expand_iri(active_ctx, active_property, vocab=True,
                                 options=options)
        for i, item in enumerate(element):
            if fast_ap is not None and fast_ap != "@graph" and \
                    item is not None and \
                    not isinstance(item, (dict, list)):
                # identical to the dispatcher's scalar branch with
                # inside_list=False (what the recursion passes)
                expanded = _expand_value(active_ctx, active_property,
                                         item, options)
            else:
                expanded = expand(active_ctx, item, active_property, options,
                                  inside_list=False,
                                  type_scoped_context=type_scoped_context,
                                  inside_index=inside_index)
            if inside_list and isinstance(expanded, list):
                expanded = {"@list": expanded}
            if expanded is None:
                # dropped array element unless custom mapped
                # (ref lib/expand.js:131-146)
                expanded = _emap(options, {
                    "unmappedValue": item, "activeCtx": active_ctx,
                    "activeProperty": active_property, "parent": element,
                    "index": i, "options": options, "expandedParent": rval,
                    "insideList": inside_list})
            if expanded is None:
                continue
            if isinstance(expanded, list):
                rval.extend(expanded)
            else:
                rval.append(expanded)
        return rval

    # element is a dict ---------------------------------------------------
    # node-shape fast path: one plan lookup per node (see _node_plan)
    # when no per-call input can change the plan's outcome. A shape's
    # plan is built when it repeats: the first sighting only records
    # it (0), so a document of one-off shapes builds no plans
    if type_scoped_context is None and \
            active_ctx.get("previousContext") is None and \
            options.get("expansionMap") is None and \
            not options.get("isFrame"):
        shapes = active_ctx.get("_shape_memo")
        if shapes is None:
            shapes = active_ctx["_shape_memo"] = {}
        skey = (active_property, tuple(element))
        plan = shapes.get(skey)
        if plan is None:
            if len(shapes) > MEMO_CAP:
                shapes.clear()
            shapes[skey] = 0
        elif plan == 0:
            plan = shapes[skey] = _node_plan(active_ctx, active_property,
                                             element, options)
        if plan:
            rval = _expand_node(active_ctx, element, plan, options,
                                shapes)
            if rval is not _CTX_MISS:
                return rval

    # expand the active property BEFORE any type-scoped-context revert
    # (ref lib/expand.js:163 — the order is observable through the
    # expansionMap event stream)
    expanded_active_property = expand_iri(
        active_ctx, active_property, vocab=True,
        options=options) if active_property else None

    # property-scoped context (ref spec step 8; lib/expand.js:202-211).
    # ABSENT and NULL differ: a term with "@context": null RESETS the
    # context for its values (JS undefined-vs-null again)
    _mapping = active_ctx["mappings"].get(active_property) \
        if isinstance(active_property, str) else None
    has_property_scoped_ctx = _mapping is not None and \
        "@context" in _mapping
    property_scoped_ctx = _mapping["@context"] \
        if has_property_scoped_ctx else None

    # revert type-scoped context when starting a new node object —
    # but NOT inside an index-map entry, whose key may carry a
    # type-scoped context. EXACT port of ref lib/expand.js:174-199:
    # the value/subject-reference probe only runs for elements with
    # <= 2 keys and no @context (and its expandIri events against the
    # type-scoped ctx are part of the observable callback stream)
    must_revert = not inside_index
    ts_ctx = type_scoped_context or (
        active_ctx if active_ctx.get("previousContext") is not None
        else None)
    keys_sorted = sorted(element)  # shared by the probe + @type scan
    if must_revert and ts_ctx is not None and len(keys_sorted) <= 2 and \
            "@context" not in element:
        for key in keys_sorted:
            expanded_prop = expand_iri(ts_ctx, key, vocab=True,
                                       options=options)
            if expanded_prop == "@value":
                # value found: use the type-scoped ctx to expand it
                must_revert = False
                active_ctx = ts_ctx
                break
            if expanded_prop == "@id" and len(keys_sorted) == 1:
                must_revert = False  # subject reference: do not revert
                break
    if must_revert:
        active_ctx = _get_type_scoped_context(active_ctx, options)

    if has_property_scoped_ctx:
        active_ctx = process_context(
            active_ctx, property_scoped_ctx, options, override_protected=True)

    if "@context" in element:
        active_ctx = process_context(active_ctx, element["@context"], options)

    # type-scoped context = active context AFTER the element's own @context
    # (spec 5.1.2 step 10)
    type_scoped_context = active_ctx

    # look for @type entries and apply type-scoped contexts, keys sorted
    # (ref lib/expand.js:226-248). A memoized key plan (_key_plan)
    # holds exactly this vocab expansion per key on the same ctx
    # object — consult it to skip the expand_iri call (bypassed under
    # an expansionMap: the events are observable)
    type_key = None
    _no_emap = options.get("expansionMap") is None
    for key in keys_sorted:
        # re-read per iteration: applying a type-scoped context below
        # REASSIGNS active_ctx, and later keys must consult that ctx
        _pm = active_ctx.get("_obj_memo") if _no_emap else None
        _plan = _pm.get(key) if _pm is not None else None
        _ep = _plan[0] if _plan is not None else \
            expand_iri(active_ctx, key, vocab=True, options=options)
        if _ep == "@type":
            if type_key is None:
                type_key = key
            types = element[key]
            types = types if isinstance(types, list) else [types]
            for t in sorted(t for t in types if isinstance(t, str)):
                # ABSENT vs null matters: an explicit null type-scoped
                # context is PROCESSED without overrideProtected, so it
                # raises 'invalid context nullification' over protected
                # terms (ref lib/expand.js:237-247; fuzz seed 962041)
                ctx = get_scoped_context(type_scoped_context, t)
                if ctx is not _CTX_MISS:
                    active_ctx = process_context(active_ctx, ctx, options,
                                                 propagate=False)

    rval = {}
    _expand_object(active_ctx, active_property, element, rval, options,
                   inside_list, type_key, type_scoped_context,
                   expanded_active_property)

    # value-object validation (ref lib/expand.js:268-331)
    if "@value" in rval:
        keys = set(rval)
        if not keys.issubset(_VALUE_KEYS):
            raise JsonLdError("value object has disallowed members.",
                              "invalid value object")
        if "@type" in rval and ("@language" in rval or "@direction" in rval):
            raise JsonLdError(
                "value object must not include @type with @language/@direction.",
                "invalid value object")
        value = rval["@value"]
        values = [] if value is None else (
            value if isinstance(value, list) else [value])
        types = rval.get("@type", [])
        types = types if isinstance(types, list) else [types]
        if types == ["@json"] and \
                active_ctx.get("processingMode") != "json-ld-1.0":
            # any JSON value allowed — but ONLY in 1.1 mode (ref
            # lib/expand.js:300-302 gates on _processingMode 1.1); in
            # 1.0 an object @value with @type @json falls through to
            # 'invalid value object value' (fuzz seed 29500175)
            pass
        elif not values:
            # null @value dropped unless custom mapped
            # (ref lib/expand.js:299-316)
            rval = _emap(options, {
                "unmappedValue": rval, "activeCtx": active_ctx,
                "activeProperty": active_property, "element": element,
                "options": options, "insideList": inside_list})
        elif isinstance(value, (dict, list)) and \
                not options.get("isFrame"):
            raise JsonLdError('"@value" value must be a scalar or null.',
                              "invalid value object value")
        elif not all(isinstance(v, str) or is_empty_object(v)
                     for v in values) and "@language" in rval:
            # frame wildcards ({}) are valid language-tagged values
            # (ref lib/expand.js:316-323)
            raise JsonLdError("only strings may be language-tagged.",
                              "invalid language-tagged value")
        elif not all((isinstance(t, str) and is_absolute_iri(t) and
                      not t.startswith("_:")) or is_empty_object(t)
                     for t in types):
            raise JsonLdError('"@type" must be an absolute IRI.',
                              "invalid typed value")
    elif isinstance(rval, dict) and "@type" in rval and \
            not isinstance(rval["@type"], list):
        rval["@type"] = [rval["@type"]]
    elif isinstance(rval, dict) and ("@set" in rval or "@list" in rval):
        # @set unwrap / lone @list (ref lib/expand.js:334-349)
        if len(rval) > 1 and not (len(rval) == 2 and "@index" in rval):
            raise JsonLdError("@set/@list must be the only member "
                              "(plus @index).", "invalid set or list object")
        if "@set" in rval:
            rval = rval["@set"]
    if isinstance(rval, dict) and "@language" in rval and len(rval) == 1:
        # lone @language dropped unless custom mapped
        # (ref lib/expand.js:350-365)
        rval = _emap(options, {
            "unmappedValue": rval, "activeCtx": active_ctx,
            "activeProperty": active_property, "element": element,
            "options": options, "insideList": inside_list})

    # free-floating node drop unless custom mapped
    # (ref lib/expand.js:367-389)
    if isinstance(rval, dict) and not options.get("isFrame") and \
            not options.get("keepFreeFloatingNodes") and \
            (active_property is None or active_property == "@graph"):
        if len(rval) == 0 or "@value" in rval or "@list" in rval or \
                (len(rval) == 1 and "@id" in rval):
            rval = _emap(options, {
                "unmappedValue": rval, "activeCtx": active_ctx,
                "activeProperty": active_property, "options": options,
                "insideList": inside_list})
    return rval


def _key_plan(active_ctx, key, options):
    """(expanded property, kind) of a node key — a pure function of the
    active context and the key, memoized in the context's `_obj_memo`
    (capped at MEMO_CAP, dropped on clone, context.py
    _clone_active_context). Callers bypass it under an expansionMap,
    whose unmappedProperty/expandIri events are observable. Kinds:
    0 = key drops (no absolute IRI/keyword expansion), 1 = keyword,
    2 = simple regular property (no property-scoped context, no
    @container, no @type:@json coercion, not a reverse term — the
    _expand_object prelude + tail collapse to one add_value), 3 =
    complex regular property."""
    memo = active_ctx.get("_obj_memo")
    if memo is None:
        memo = active_ctx["_obj_memo"] = {}
    plan = memo.get(key)
    if plan is not None:
        return plan
    ep = expand_iri(active_ctx, key, vocab=True, options=options)
    if ep is None or not (isinstance(ep, str) and
                          (is_absolute_iri(ep) or is_keyword(ep))):
        plan = (None, 0)
    elif is_keyword(ep):
        plan = (ep, 1)
    elif get_scoped_context(active_ctx, key) is not _CTX_MISS:
        plan = (ep, 3)
    else:
        _m = active_ctx["mappings"].get(key)
        simple = not get_context_value(active_ctx, key, "@container") and \
            not (_m and _m.get("reverse")) and \
            get_context_value(active_ctx, key, "@type") != "@json"
        plan = (ep, 2 if simple else 3)
    if len(memo) > MEMO_CAP:
        memo.clear()
    memo[key] = plan
    return plan


# node-shape plan ops: the entries of a plan run in sorted key order
_OP_ID, _OP_TYPE, _OP_PROP = 0, 1, 2


def _node_plan(active_ctx, active_property, element, options):
    """Node-shape plan for the fast path of expand(): a tuple
    (entries, check_types, free_floating), or () when the shape needs
    the generic dispatcher. Eligible shapes are node objects whose keys
    are at most one @id, at most one @type and simple regular
    properties (_key_plan kind 2, distinct IRIs) — so no @context
    either — under an active property with no property-scoped context
    that is neither @default nor @reverse. Entries are (op, key,
    expanded property, _value_plan) in sorted key order; dropped keys
    are left out. check_types is set when the context defines any
    scoped context, so that @type values are checked for a
    type-scoped context on every call.

    The plan reads only the active context (it lives in the context's
    `_shape_memo`), the active property and the key set, which is what
    the memo key holds. The caller checks the per-call inputs: no
    expansionMap, no frame expansion, no type-scoped context to
    revert."""
    if active_property in ("@default", "@reverse"):
        return ()
    if active_property is not None:
        mapping = active_ctx["mappings"].get(active_property)
        if mapping is not None and "@context" in mapping:
            return ()
        if expand_iri(active_ctx, active_property, vocab=True,
                      options=options) == "@reverse":
            return ()
    entries, seen = [], set()
    for key in sorted(element):
        ep, kind = _key_plan(active_ctx, key, options)
        if kind == 0:
            continue
        if ep in seen or (kind == 1 and ep not in ("@id", "@type")) or \
                kind == 3:
            return ()
        seen.add(ep)
        if ep == "@id":
            entries.append((_OP_ID, key, ep, None))
        elif ep == "@type":
            entries.append((_OP_TYPE, key, ep, None))
        else:
            entries.append((_OP_PROP, key, ep,
                            _value_plan(active_ctx, key, options)))
    check_types = "@type" in seen and any(
        m is not None and "@context" in m
        for m in active_ctx["mappings"].values())
    return (tuple(entries), check_types,
            active_property is None or active_property == "@graph")


def _expand_node(active_ctx, element, plan, options, shapes):
    """expand() of a dict element along its node-shape plan; _CTX_MISS
    when a value needs the generic dispatcher (a non-string @id, a
    malformed or type-scoped @type). The generic path raises every
    error the plan skips, and nothing here has a side effect before
    that return, so falling back re-runs the element from scratch.
    Dict items of a list value take their own plan from `shapes`
    directly: the dispatcher's per-call checks hold for them too."""
    entries, check_types, free_floating = plan
    # expand_iri's own memos, read directly for the base (@id) and
    # vocab+base (@type) expansions; a miss calls expand_iri
    memos = iri_memos(active_ctx)
    ids, types_ = memos[1], memos[3]
    rval = {}
    for op, key, ep, vp in entries:
        value = element[key]
        if op == _OP_PROP:
            cls = value.__class__
            if cls is list:
                out = []
                for item in value:
                    icls = item.__class__
                    if icls is str and vp[4] == 3:
                        iri = ids.get(item, _CTX_MISS)
                        if iri is _CTX_MISS:
                            iri = expand_iri(active_ctx, item, base=True,
                                             options=options)
                        out.append({"@id": iri})
                    elif icls is dict or isinstance(item, (dict, list)):
                        ev = _CTX_MISS
                        if icls is dict:
                            p = shapes.get((key, tuple(item)))
                            if p:
                                ev = _expand_node(active_ctx, item, p,
                                                  options, shapes)
                        if ev is _CTX_MISS:
                            ev = expand(active_ctx, item, key, options)
                        if ev is None:
                            continue
                        if isinstance(ev, list):
                            out.extend(ev)
                        else:
                            out.append(ev)
                    elif item is not None:
                        out.append(_expand_value(active_ctx, key, item,
                                                 options))
                rval[ep] = out
            elif (cls is str or cls is int) and vp[4] == 0:
                # the commonest value: an uncoerced string or integer
                if vp[6] is not None:
                    rval[ep] = [{"@value": value, "@type": vp[6]}]
                elif cls is int or (vp[2] is None and vp[3] is None):
                    rval[ep] = [{"@value": value}]
                else:
                    rval[ep] = [_expand_value(active_ctx, key, value,
                                              options)]
            elif value is None:
                continue
            elif isinstance(value, (dict, list)):
                ev = expand(active_ctx, value, key, options)
                if ev is None:
                    continue
                rval[ep] = ev if isinstance(ev, list) else [ev]
            else:
                rval[ep] = [_expand_value(active_ctx, key, value, options)]
        elif op == _OP_ID:
            if not isinstance(value, str):
                return _CTX_MISS
            iri = ids.get(value, _CTX_MISS)
            rval["@id"] = expand_iri(active_ctx, value, base=True,
                                     options=options) \
                if iri is _CTX_MISS else iri
        elif isinstance(value, str):
            if check_types and \
                    get_scoped_context(active_ctx, value) is not _CTX_MISS:
                return _CTX_MISS
            iri = types_.get(value, _CTX_MISS)
            rval["@type"] = [expand_iri(active_ctx, value, vocab=True,
                                        base=True, options=options,
                                        type_expansion=True)
                             if iri is _CTX_MISS else iri]
        else:
            if not isinstance(value, list):
                return _CTX_MISS
            for t in value:
                if not isinstance(t, str) or (check_types and (
                        get_scoped_context(active_ctx, t) is not _CTX_MISS)):
                    return _CTX_MISS
            if value:
                rval["@type"] = [
                    expand_iri(active_ctx, t, vocab=True, base=True,
                               options=options, type_expansion=True)
                    for t in value]
    if free_floating and (not rval or (len(rval) == 1 and "@id" in rval)) \
            and not options.get("keepFreeFloatingNodes"):
        return None
    return rval


def _expand_object(active_ctx, active_property, element, rval, options,
                   inside_list, type_key, type_scoped_context,
                   expanded_parent_property=None):
    """Per-key expansion loop (ref lib/expand.js:411-917).
    `expanded_parent_property` is the dispatcher's pre-revert expansion
    of the active property (ref expandedActiveProperty param)."""
    nests = []
    unexpanded_language = None
    unexpanded_direction = None

    # JSON-literal type detection (ref lib/expand.js:430-434): expand
    # the FIRST @type value vocab-only with typeExpansion — with an
    # expansionMap installed this call is also part of the reference's
    # observable event stream
    is_json_type = False
    if type_key is not None and element.get(type_key):
        tv = element[type_key]
        tv0 = tv[0] if isinstance(tv, list) and tv else tv
        is_json_type = expand_iri(
            active_ctx, tv0, vocab=True, options=options,
            type_expansion=True) == "@json"

    # per-key plans (_key_plan) are bypassed under an expansionMap,
    # whose unmappedProperty/expandIri events are part of the
    # observable callback stream
    _plan_memo = None
    if options is None or options.get("expansionMap") is None:
        _plan_memo = active_ctx.get("_obj_memo")
        if _plan_memo is None:
            _plan_memo = active_ctx["_obj_memo"] = {}

    for key in sorted(element.keys()):
        if key == "@context":
            continue
        value = element[key]
        kind = -1
        if _plan_memo is not None:
            plan = _plan_memo.get(key) or _key_plan(active_ctx, key, options)
            expanded_property, kind = plan
            if kind == 0:
                continue
        else:
            expanded_property = expand_iri(active_ctx, key, vocab=True,
                                           options=options)

            if expanded_property is None or not (
                    isinstance(expanded_property, str) and
                    (is_absolute_iri(expanded_property) or
                     is_keyword(expanded_property))):
                # drop keys that don't expand to an ABSOLUTE IRI or keyword
                # unless custom mapped (ref lib/expand.js:448-465 — a
                # vocab-prepended IRI with whitespace fails isAbsoluteIri
                # and is dropped)
                expanded_property = _emap(options, {
                    "unmappedProperty": key, "activeCtx": active_ctx,
                    "activeProperty": active_property, "parent": element,
                    "options": options, "insideList": inside_list,
                    "value": value, "expandedParent": rval})
                if expanded_property is None:
                    continue

        if kind == 2:
            # simple regular property: with no scoped context the
            # dispatch below reduces to the scalar fast path / generic
            # recursion, no @list coercion (@container empty), no
            # @graph wrap, no reverse merge, and use_array is True for
            # a non-keyword property — one add_value
            if value is not None and not isinstance(value, (dict, list)):
                expanded_value = _expand_value(active_ctx, key, value,
                                               options)
            else:
                expanded_value = expand(active_ctx, value, key, options,
                                        inside_list=False)
            if expanded_value is None:
                continue
            # inlined add_value(rval, ep, ev, property_is_array=True):
            # the property is absent unless two distinct KEYS expand to
            # the same IRI (rare) — then fall back to the general insert
            if expanded_property not in rval:
                rval[expanded_property] = expanded_value \
                    if isinstance(expanded_value, list) \
                    else [expanded_value]
            else:
                add_value(rval, expanded_property, expanded_value,
                          property_is_array=True)
            continue

        if is_keyword(expanded_property):
            if expanded_parent_property == "@reverse":
                raise JsonLdError("@reverse value must not contain keywords.",
                                  "invalid reverse property map")
            if expanded_property in rval and \
                    expanded_property not in ("@included", "@type"):
                raise JsonLdError(
                    f"colliding keyword {expanded_property}.",
                    "colliding keywords")

        # @id (ref lib/expand.js:485-521)
        if expanded_property == "@id":
            if not isinstance(value, str):
                if options.get("isFrame"):
                    vals = value if isinstance(value, list) else [value]
                    out = []
                    for v in vals:
                        if isinstance(v, dict) and len(v) == 0:
                            out.append(v)
                        elif isinstance(v, str):
                            out.append(expand_iri(active_ctx, v, base=True,
                                                  options=options))
                        else:
                            raise JsonLdError('"@id" must be a string.',
                                              "invalid @id value")
                    add_value(rval, "@id", out, value_is_array=True)
                    continue
                raise JsonLdError('"@id" value must be a string.',
                                  "invalid @id value")
            else:
                add_value(rval, "@id",
                          expand_iri(active_ctx, value, base=True,
                                     options=options))
            continue

        # @type (ref lib/expand.js:523-548) — expanded with type-scoped ctx
        if expanded_property == "@type":
            _expand_type(type_scoped_context, value, rval, options)
            continue

        # @included (ref lib/expand.js:550-571): expanded with the
        # PARENT'S activeProperty — so an @id-only node under a
        # null/@graph active property is dropped by the free-floating
        # rule (ref :369-380), while under any other property it
        # survives the recursion and then fails the STRICT isSubject
        # check below (references are NOT accepted, ref
        # graphTypes.js:18-29)
        if expanded_property == "@included" and \
                active_ctx["processingMode"] != "json-ld-1.0":
            included = expand(active_ctx, value, active_property, options)
            included = included if isinstance(included, list) else [included]
            if not all(is_subject(v) for v in included):
                raise JsonLdError(
                    "values of @included must expand to node objects.",
                    "invalid @included value")
            add_value(rval, "@included", included, property_is_array=True)
            continue
        # in 1.0 mode the gate above (ref lib/expand.js:550
        # `_processingMode(activeCtx, 1.1)`) FAILS and @included falls
        # through to the generic property path: the value recurses with
        # activeProperty=key and is re-added under '@included' with
        # propertyIsArray and NO isSubject strictness

        # @graph (ref lib/expand.js:573-580)
        if expanded_property == "@graph":
            if not isinstance(value, (dict, list)):
                raise JsonLdError('"@graph" must be an object or array.',
                                  "invalid @graph value")
            expanded = expand(active_ctx, value, "@graph", options)
            expanded = expanded if isinstance(expanded, list) else [expanded]
            expanded = [v for v in expanded if v is not None]
            add_value(rval, "@graph", expanded, value_is_array=True)
            continue

        # @value (ref lib/expand.js:581-593): JSON literals keep the raw
        # value uncoerced; validation happens in the dispatcher
        if expanded_property == "@value":
            if is_json_type and \
                    active_ctx["processingMode"] != "json-ld-1.0":
                rval["@value"] = value
            else:
                # frame expansion keeps @value as an array (ref
                # lib/expand.js:589-590 propertyIsArray: options.isFrame)
                add_value(rval, "@value", value,
                          property_is_array=bool(options.get("isFrame")))
            continue

        # @language (ref lib/expand.js:597-623)
        if expanded_property == "@language":
            if value is None:
                continue
            if not isinstance(value, str) and not options.get("isFrame"):
                raise JsonLdError('"@language" must be a string.',
                                  "invalid language-tagged string")
            vals = value if isinstance(value, list) else [value]
            for v in vals:
                if isinstance(v, str) and not BCP47_RE.match(v):
                    pass  # warning only (ref lib/expand.js:612-616)
            out = [v.lower() if isinstance(v, str) else v for v in vals]
            # ref lib/expand.js:617-619: propertyIsArray: options.isFrame
            # (a scalar @language in a FRAME is stored as an array)
            add_value(rval, "@language",
                      out if isinstance(value, list) else out[0],
                      property_is_array=bool(options.get("isFrame")))
            continue

        # @direction (ref lib/expand.js:624-650) — NO processing-mode
        # gate: the reference's branch validates and keeps @direction
        # even in json-ld-1.0 mode (only context.js gates @direction
        # in term definitions / contexts)
        if expanded_property == "@direction":
            if not isinstance(value, str) and not options.get("isFrame"):
                raise JsonLdError('"@direction" must be a string.',
                                  "invalid base direction")
            vals = value if isinstance(value, list) else [value]
            for v in vals:
                if isinstance(v, str) and v not in ("ltr", "rtl"):
                    raise JsonLdError('"@direction" must be "ltr"/"rtl".',
                                      "invalid base direction")
            # ref lib/expand.js:641-646: propertyIsArray: options.isFrame
            add_value(rval, "@direction", value,
                      property_is_array=bool(options.get("isFrame")))
            continue

        # @index (ref lib/expand.js:651-661)
        if expanded_property == "@index":
            if not isinstance(value, str):
                raise JsonLdError('"@index" must be a string.',
                                  "invalid @index value")
            add_value(rval, "@index", value)
            continue

        # @reverse (ref lib/expand.js:663-712)
        if expanded_property == "@reverse":
            if not isinstance(value, dict):
                raise JsonLdError('"@reverse" value must be an object.',
                                  "invalid @reverse value")
            expanded = expand(active_ctx, value, "@reverse", options)
            if isinstance(expanded, dict) and "@reverse" in expanded:
                for prop, items in expanded["@reverse"].items():
                    add_value(rval, prop, items, property_is_array=True)
            if isinstance(expanded, dict):
                reverse_map = rval.get("@reverse")
                for prop, items in expanded.items():
                    if prop == "@reverse":
                        continue
                    if reverse_map is None:
                        reverse_map = rval["@reverse"] = {}
                    add_value(reverse_map, prop, [], property_is_array=True)
                    for item in items:
                        if is_value(item) or is_list(item):
                            raise JsonLdError(
                                "@reverse value must not be @value/@list.",
                                "invalid reverse property value")
                        add_value(reverse_map, prop, item,
                                  property_is_array=True)
            continue

        # @nest collection (ref lib/expand.js:715-718)
        if expanded_property == "@nest":
            nests.append(key)
            continue

        # regular property ------------------------------------------------
        term_ctx = active_ctx
        term_local_ctx = get_scoped_context(active_ctx, key)
        if term_local_ctx is not _CTX_MISS:
            term_ctx = process_context(active_ctx, term_local_ctx, options,
                                       propagate=True,
                                       override_protected=True)

        container = get_context_value(term_ctx, key, "@container") or []

        if "@language" in container and isinstance(value, dict):
            direction = get_context_value(term_ctx, key, "@direction")
            expanded_value = _expand_language_map(term_ctx, value, direction,
                                                  options)
        elif "@index" in container and isinstance(value, dict):
            as_graph = "@graph" in container
            index_key = get_context_value(term_ctx, key, "@index") or "@index"
            property_index = None
            if index_key != "@index":
                property_index = expand_iri(active_ctx, index_key,
                                            vocab=True, options=options)
            expanded_value = _expand_index_map(
                term_ctx, key, value, "@index", as_graph, options,
                property_index=property_index,
                property_index_name=index_key)
        elif "@id" in container and isinstance(value, dict):
            as_graph = "@graph" in container
            expanded_value = _expand_index_map(term_ctx, key, value, "@id",
                                               as_graph, options)
        elif "@type" in container and isinstance(value, dict):
            # @type containers revert the type-scoped context before
            # expanding the map (ref lib/expand.js:768-779) — a CLONING
            # revert, so @direction/processingMode drop here too
            reverted = revert_to_previous_context(term_ctx)
            expanded_value = _expand_index_map(reverted, key, value, "@type",
                                               False, options)
        elif expanded_property in ("@list", "@set"):
            # recurse into the @list/@set keyword with the OUTER active
            # property so term coercions apply to items
            # (ref lib/expand.js:781-795)
            is_kw_list = expanded_property == "@list"
            next_property = active_property
            if is_kw_list and isinstance(active_property, str) and \
                    expand_iri(active_ctx, active_property,
                               vocab=True) == "@graph":
                next_property = None
            expanded_value = expand(term_ctx, value, next_property, options,
                                    inside_list=is_kw_list)
        elif get_context_value(term_ctx, key, "@type") == "@json":
            # @json capture takes the WHOLE raw value — before any
            # container handling (ref lib/expand.js:796-801: the @json
            # branch precedes the generic recursion, so an array value
            # under @container:@list becomes one JSON literal)
            expanded_value = {"@type": "@json", "@value": value}
        else:
            is_list_container = "@list" in container
            if is_list_container or "@set" in container:
                next_property = active_property
                if is_list_container and expanded_property == "@graph":
                    next_property = None
                expanded_value = expand(term_ctx, value,
                                        key, options,
                                        inside_list=is_list_container)
            elif value is not None and \
                    not isinstance(value, (dict, list)) and \
                    term_ctx is active_ctx and \
                    not is_keyword(expanded_property) and \
                    options.get("expansionMap") is None:
                # scalar fast path (the dispatcher's scalar branch
                # inlined): with no property-scoped context
                # expand_iri(term_ctx, key) IS expanded_property — a
                # non-keyword absolute IRI, never "@graph" — so the
                # dispatcher would reach _expand_value unconditionally.
                # Saves the dispatcher prelude + one memoized
                # expand_iri per scalar property value (~15% of kernel
                # CPU on flat node shapes). Disabled under an
                # expansionMap: the dispatcher's expandIri event is
                # part of the observable callback stream.
                expanded_value = _expand_value(term_ctx, key, value,
                                               options)
            else:
                expanded_value = expand(term_ctx, value, key, options,
                                        inside_list=False)

        if expanded_value is None and expanded_property != "@value":
            # dropped null value unless custom mapped
            # (ref lib/expand.js:814-833)
            expanded_value = _emap(options, {
                "unmappedValue": value, "expandedProperty": expanded_property,
                "activeCtx": term_ctx, "activeProperty": active_property,
                "parent": element, "options": options,
                "insideList": inside_list, "key": key,
                "expandedParent": rval})
            if expanded_value is None:
                continue

        # @list coercion (ref lib/expand.js:835-842)
        if expanded_property != "@list" and not is_list(expanded_value) and \
                "@list" in container:
            expanded_value = {"@list": expanded_value if
                              isinstance(expanded_value, list)
                              else [expanded_value]}

        # @graph container wrap (ref lib/expand.js:844-851). The
        # reference's comment says "and value is not, itself, a graph"
        # but the CODE wraps unconditionally — the _isGraph guard only
        # exists in the index/id-map path (lib/expand.js:1090). A
        # graph-shaped value ({@graph,@id}) is double-wrapped (fuzz
        # seed 15600531, verified vs node).
        if "@graph" in container and "@id" not in container and \
                "@index" not in container:
            ev = expanded_value if isinstance(expanded_value, list) \
                else [expanded_value]
            expanded_value = [
                {"@graph": v if isinstance(v, list) else [v]} for v in ev]

        # reverse-term merge (ref lib/expand.js:853-868)
        mapping = term_ctx["mappings"].get(key)
        if mapping and mapping.get("reverse"):
            reverse_map = rval.setdefault("@reverse", {})
            ev = expanded_value if isinstance(expanded_value, list) \
                else [expanded_value]
            for item in ev:
                if is_value(item) or is_list(item):
                    raise JsonLdError(
                        "@reverse value must not be @value/@list.",
                        "invalid reverse property value")
                add_value(reverse_map, expanded_property, item,
                          property_is_array=True)
        else:
            use_array = expanded_property not in ("@index", "@id", "@type",
                                                  "@value", "@language")
            add_value(rval, expanded_property, expanded_value,
                      property_is_array=use_array)

    # @json direct-value check: if @value present alongside @type:@json via
    # term coercion it was handled above.

    # recurse into @nest keys (ref lib/expand.js:894-916)
    for key in nests:
        nested_values = element[key]
        nested_values = nested_values if isinstance(nested_values, list) \
            else [nested_values]
        for nv in nested_values:
            if not isinstance(nv, dict) or any(
                    expand_iri(active_ctx, k, vocab=True,
                               options=options) == "@value"
                    for k in nv):
                raise JsonLdError("nested value must be a node object.",
                                  "invalid @nest value")
            _expand_object(active_ctx, active_property, nv, rval, options,
                           inside_list, type_key, type_scoped_context,
                           expanded_parent_property)


def _validate_type_value(v, is_frame):
    """ref lib/util.js validateTypeValue: string | all-string array |
    (frame mode) empty-object wildcard | single-key @default object
    whose values are ALL strings. A mixed array containing objects is
    invalid even in frame mode — only a LONE object passes."""
    if isinstance(v, str):
        return
    if isinstance(v, list) and all(isinstance(x, str) for x in v):
        return
    if is_frame and isinstance(v, dict):
        if len(v) == 0:
            return
        if len(v) == 1 and "@default" in v:
            dv = v["@default"]
            dv = dv if isinstance(dv, list) else [dv]
            if all(isinstance(x, str) for x in dv):
                return
    raise JsonLdError(
        '"@type" value must a string, an array of strings, an empty '
        'object, or a default object.', "invalid type value")


def _expand_type(type_ctx, value, rval, options):
    """@type expansion against the type-scoped context
    (ref lib/expand.js:523-548).

    A LONE object value (frame wildcard / default object) is first
    rewritten key-by-key — keys vocab-expanded, entry values
    ARRAY-ified and element-expanded (so @default always comes out as
    an array) — THEN validated; non-string leaves pass through
    expand_iri unchanged and fail validation (ref :525-533 +
    util.js validateTypeValue)."""
    is_frame = bool(options.get("isFrame"))
    if isinstance(value, dict):
        value = {
            expand_iri(type_ctx, k, vocab=True, options=options): [
                expand_iri(type_ctx, vv, vocab=True, base=True,
                           options=options, type_expansion=True)
                for vv in (v if isinstance(v, list) else [v])]
            for k, v in value.items()}
    _validate_type_value(value, is_frame)
    vals = value if isinstance(value, list) else [value]
    out = []
    for v in vals:
        if isinstance(v, str):
            out.append(expand_iri(type_ctx, v, vocab=True, base=True,
                                  options=options, type_expansion=True))
        else:
            out.append(v)
    if not out:
        # addValue semantics (ref lib/expand.js:537-544 +
        # util.js:265-280): an EMPTY @type array adds nothing unless
        # framing (propertyIsArray=isFrame materializes the [])
        if options.get("isFrame") and "@type" not in rval:
            rval["@type"] = []
        return
    if "@type" in rval:
        existing = rval["@type"]
        existing = existing if isinstance(existing, list) else [existing]
        rval["@type"] = existing + out
    else:
        # scalar input stays scalar here (the dispatcher arrayifies
        # node objects; value-object validation requires a plain
        # string) — except in frame mode, where propertyIsArray=isFrame
        # always materializes the array (ref lib/expand.js:537-544)
        rval["@type"] = out if is_frame or isinstance(value, list) \
            or len(out) != 1 else out[0]


def _value_plan(active_ctx, active_property, options):
    """The per-property decision tuple of _expand_value: (expanded
    property, @type coercion, @language, @direction, code, is_kw_ep,
    typed). Code 1/2 = bare-IRI expansion for @id/@type, 3/4 = @id/
    @vocab coercion, 0 = none of those (same precedence as the chain
    in _expand_value); is_kw_ep covers the "other keyword values pass
    through" rule; typed is the literal @type to stamp (None for
    @id/@vocab/@none). A pure function of the active context and the
    property, memoized in the context's `_val_memo` (capped at
    MEMO_CAP, dropped on clone). Callers bypass it under an
    expansionMap."""
    memo = active_ctx.get("_val_memo")
    if memo is None:
        memo = active_ctx["_val_memo"] = {}
    plan = memo.get(active_property)
    if plan is None:
        ep = expand_iri(active_ctx, active_property, vocab=True,
                        options=options)
        type_ = get_context_value(active_ctx, active_property, "@type")
        if ep == "@id":
            code = 1
        elif ep == "@type":
            code = 2
        elif type_ == "@id" or ep == "@graph":
            code = 3
        elif type_ == "@vocab":
            code = 4
        else:
            code = 0
        typed = type_ if type_ is not None and \
            type_ not in ("@id", "@vocab", "@none") else None
        if len(memo) > MEMO_CAP:
            memo.clear()
        plan = memo[active_property] = (
            ep, type_,
            get_context_value(active_ctx, active_property, "@language"),
            get_context_value(active_ctx, active_property, "@direction"),
            code, is_keyword(ep), typed)
    return plan


def _expand_value(active_ctx, active_property, value, options):
    """Value Expansion (ref lib/expand.js:930-988).

    The per-property decision tuple (expanded property, @type
    coercion, @language, @direction) is a pure function of the
    immutable active context, so it rides a `_val_memo` on the
    context (dropped on clone like _iri_memo, context.py:68; captures
    EVERY ctx-derived input the body reads). Bypassed under an
    expansionMap — the internal expandIri events are observable."""
    if value is None:
        return None
    if active_property == "@default":
        return value

    plan = None
    if active_property.__class__ is str and (
            options is None or options.get("expansionMap") is None):
        plan = _value_plan(active_ctx, active_property, options)
    if plan is not None:
        expanded_property, type_, language, direction, code, is_kw_ep, \
            typed = plan
        if code and isinstance(value, str):
            if code == 1:
                return expand_iri(active_ctx, value, base=True,
                                  options=options)
            if code == 2:
                return expand_iri(active_ctx, value, vocab=True, base=True,
                                  options=options, type_expansion=True)
            if code == 3:
                return {"@id": expand_iri(active_ctx, value, base=True,
                                          options=options)}
            return {"@id": expand_iri(active_ctx, value, vocab=True,
                                      base=True, options=options)}
        if is_kw_ep:
            return value
        rval = {"@value": value}
        if typed is not None:
            rval["@type"] = typed
        elif isinstance(value, str):
            if language is not None:
                rval["@language"] = language
            if direction is not None:
                rval["@direction"] = direction
        return rval
    else:
        # @id / @type active properties expand to bare IRIs
        # (ref lib/expand.js:936-944)
        expanded_property = expand_iri(
            active_ctx, active_property, vocab=True, options=options) \
            if isinstance(active_property, str) else active_property
        type_ = get_context_value(active_ctx, active_property, "@type")
        language = get_context_value(active_ctx, active_property,
                                     "@language")
        direction = get_context_value(active_ctx, active_property,
                                      "@direction")

    if expanded_property == "@id" and isinstance(value, str):
        return expand_iri(active_ctx, value, base=True, options=options)
    if expanded_property == "@type" and isinstance(value, str):
        return expand_iri(active_ctx, value, vocab=True, base=True,
                          options=options, type_expansion=True)

    # @id coercion (automatic for @graph) (ref lib/expand.js:949-958)
    if (type_ == "@id" or expanded_property == "@graph") and \
            isinstance(value, str):
        return {"@id": expand_iri(active_ctx, value, base=True,
                                  options=options)}
    if type_ == "@vocab" and isinstance(value, str):
        return {"@id": expand_iri(active_ctx, value, vocab=True, base=True,
                                  options=options)}

    # do not expand other keyword values (ref lib/expand.js:960-963)
    if is_keyword(expanded_property):
        return value

    rval = {"@value": value}

    if type_ is not None and type_ not in ("@id", "@vocab", "@none"):
        rval["@type"] = type_
    elif isinstance(value, str):
        if language is not None:
            rval["@language"] = language
        if direction is not None:
            rval["@direction"] = direction
    return rval


def _expand_language_map(active_ctx, language_map, direction, options):
    """@container:@language maps (ref lib/expand.js:1000-1031)."""
    rval = []
    for key in sorted(language_map.keys()):
        expanded_key = expand_iri(active_ctx, key, vocab=True,
                                  options=options)
        vals = language_map[key]
        vals = vals if isinstance(vals, list) else [vals]
        for item in vals:
            if item is None:
                continue
            if not isinstance(item, str):
                raise JsonLdError("language map values must be strings.",
                                  "invalid language map value")
            val = {"@value": item}
            if expanded_key != "@none":
                if not BCP47_RE.match(key):
                    pass  # warning only
                val["@language"] = key.lower()
            if direction:
                val["@direction"] = direction
            rval.append(val)
    return rval


def _expand_index_map(active_ctx, active_property, value, index_key, as_graph,
                      options, property_index=None,
                      property_index_name="@index"):
    """@container:@index/@id/@type maps — exact port of
    ref lib/expand.js:1033-1125. Ordering is observable through the
    expansionMap stream: items are expanded BEFORE the key; only @type
    maps apply key-scoped contexts, and those PERSIST for subsequent
    keys (the reference reassigns activeCtx in the loop)."""
    rval = []
    is_type_index = index_key == "@type"
    for key in sorted(value.keys()):
        if is_type_index:
            ctx = get_scoped_context(active_ctx, key)
            if ctx is not _CTX_MISS:
                active_ctx = process_context(active_ctx, ctx, options,
                                             propagate=False)

        items = value[key]
        items = items if isinstance(items, list) else [items]
        expanded = expand(active_ctx, items, active_property, options,
                          inside_list=False, inside_index=True)

        # expand the key AFTER the items (ref :1057-1078); for
        # property-indexed maps the key expands as a VALUE of the named
        # index property
        if property_index is not None:
            if key == "@none":
                expanded_key = "@none"
            else:
                expanded_key = _expand_value(active_ctx,
                                             property_index_name, key,
                                             options)
        else:
            expanded_key = expand_iri(active_ctx, key, vocab=True,
                                      options=options)

        out_key = key
        if index_key == "@id":
            # expand document relative (ref :1081-1084)
            out_key = expand_iri(active_ctx, key, base=True,
                                 options=options)
        elif is_type_index:
            out_key = expanded_key

        raw_index_key = property_index_name if property_index is not None \
            else index_key
        for item in expanded:
            if as_graph and not is_graph(item):
                item = {"@graph": [item]}
            if is_type_index:
                if expanded_key != "@none":
                    types = item.get("@type", [])
                    types = types if isinstance(types, list) else [types]
                    item["@type"] = [out_key] + types
            elif is_value(item) and \
                    raw_index_key not in ("@language", "@type", "@index"):
                # value objects cannot take non-@language/@type/@index
                # map keys (ref :1101-1107, raw indexKey)
                raise JsonLdError(
                    "Attempt to add illegal key to value object: "
                    f'"{raw_index_key}".', "invalid value object")
            elif property_index is not None:
                if expanded_key != "@none":
                    add_value(item, property_index, expanded_key,
                              property_is_array=True, prepend=True)
            elif expanded_key != "@none" and index_key not in item:
                item[index_key] = out_key
            rval.append(item)
    return rval
