"""Compaction — JSON-LD 1.1 API §6, from scratch.

Behavioral reference: lib/compact.js:58-672 (compact), :688-957
(compactIri incl. inverse-context term selection and shortest-least CURIE
via the fast trie), :970-1087 (compactValue), :1101-1161 (_selectTerm).

Spark role (SURVEY.md §2.7): compaction is a document-local rewrite run
inside Arrow UDFs after the node-map merge when compacted per-document
JSON-LD output is requested; it is not on the triple-emission path.
"""

from __future__ import annotations

import re

from .context import (
    _MISS as _CTX_MISS, expand_iri, get_context_value, get_inverse_context,
    get_scoped_context, process_context,
)
from .util import (
    JsonLdError, is_keyword, add_value, is_value, is_list, is_graph,
    is_simple_graph, is_subject_reference, remove_base, parse_iri,
    prepend_base, MEMO_CAP,
)


def compact(active_ctx, active_property, element, options=None):
    """Compaction Algorithm (ref lib/compact.js:58-672)."""
    options = options or {}
    compact_arrays = options.get("compactArrays", True)

    if isinstance(element, list):
        rval = []
        for i, item in enumerate(element):
            compacted = compact(active_ctx, active_property, item, options)
            if compacted is None:
                # dropped null unless custom mapped — the reference's
                # compactionMap callback surface
                # (ref lib/compact.js:77-89, lib/jsonld.js:114-117);
                # a None return keeps the default drop
                cmap = options.get("compactionMap")
                if cmap is not None:
                    compacted = cmap({
                        "unmappedValue": item, "activeCtx": active_ctx,
                        "activeProperty": active_property,
                        "parent": element, "index": i, "options": options})
            if compacted is not None:
                rval.append(compacted)
        if compact_arrays and len(rval) == 1:
            container = get_context_value(active_ctx, active_property,
                                          "@container") or []
            if not container:
                return rval[0]
        return rval

    if not isinstance(element, dict):
        return element

    # use any scoped context on active_property for EVERY non-array
    # element — BEFORE value compaction (ref lib/compact.js:103-112).
    # Via process_context's clone this is also where the default
    # @direction dies (reference clone quirk), which compact_value
    # then observes (difftest seed 154053)
    # ABSENT vs null: an explicit null scoped context is PROCESSED
    # (context reset — allowed here by overrideProtected), not skipped
    # (ref lib/compact.js:104-113 gates on !_isUndefined)
    scoped_ctx = get_scoped_context(active_ctx, active_property)
    if scoped_ctx is not _CTX_MISS:
        active_ctx = process_context(active_ctx, scoped_ctx, options,
                                     override_protected=True)

    # element is an object
    if options.get("link") is not None and "@id" in element and \
            element["@id"] in options["link"]:
        for linked in options["link"][element["@id"]]:
            if linked["expanded"] is element:
                return linked["compacted"]

    if is_value(element) or is_subject_reference(element):
        rval = compact_value(active_ctx, active_property, element, options)
        return rval

    # list inside a @list container compacts to a plain nested array
    # (ref lib/compact.js:144-156)
    if is_list(element):
        container = get_context_value(active_ctx, active_property,
                                      "@container") or []
        if "@list" in container:
            return compact(active_ctx, active_property, element["@list"],
                           options)

    inside_reverse = active_property == "@reverse"
    rval = {}

    # original context BEFORE revert/property-scoped/type-scoped
    # application (ref lib/compact.js:163-165 inputCtx): property- and
    # type-scoped context LOOKUPS and @type-value compaction use it
    input_ctx = active_ctx

    # revert type-scoped context for new node objects — SINGLE step
    # (ref :167-169 + context.js:1391-1396 revertToPreviousContext).
    # The reference reverts BY CLONING and its clone drops @direction
    # AND processingMode (context.js:1364-1385 quirk), so the default
    # direction does NOT come back with the reverted context —
    # compact_value inside this node must not re-simplify
    # direction-tagged values (fuzz seed 952008) — and 1.0-mode gates
    # stop firing past a revert (fuzz seed 25500111)
    if not is_value(element) and not is_subject_reference(element):
        from .context import revert_to_previous_context
        active_ctx = revert_to_previous_context(active_ctx)

    # property-scoped context, looked up on input_ctx (ref :172-182);
    # an explicit null is processed (reset), not skipped
    property_scoped_ctx = get_scoped_context(input_ctx, active_property)
    if property_scoped_ctx is not _CTX_MISS:
        active_ctx = process_context(active_ctx, property_scoped_ctx,
                                     options, override_protected=True)

    # type-scoped contexts: type IRIs compacted against the CURRENT ctx
    # prior to overlay, scoped-context values looked up on input_ctx
    # (ref :195-217)
    if "@type" in element:
        types = element["@type"]
        types = types if isinstance(types, list) else [types]
        type_context = active_ctx
        for t in sorted(t for t in types if isinstance(t, str)):
            ctype = compact_iri(type_context, t, vocab=True)
            # null type-scoped context: processed WITHOUT
            # overrideProtected (ref :209-216) → nullification error
            # over protected terms
            ctx = get_scoped_context(input_ctx, ctype)
            if ctx is not _CTX_MISS:
                active_ctx = process_context(active_ctx, ctx, options,
                                             propagate=False)

    if options.get("link") is not None and "@id" in element:
        options["link"].setdefault(element["@id"], []).append(
            {"expanded": element, "compacted": rval})

    for expanded_property in sorted(element.keys()):
        expanded_value = element[expanded_property]

        if expanded_property in ("@id",):
            if isinstance(expanded_value, str):
                compacted_value = compact_iri(active_ctx, expanded_value,
                                              base=options.get("base"))
            else:
                compacted_value = [compact_iri(active_ctx, v,
                                               base=options.get("base"))
                                   for v in expanded_value]
                # singleton arrays collapse regardless of compactArrays
                # (ref lib/compact.js:233-235) — @id reaches here as an
                # array only via isFrame expansion or skipExpansion
                if len(compacted_value) == 1:
                    compacted_value = compacted_value[0]
            alias = compact_iri(active_ctx, "@id", vocab=True)
            rval[alias] = compacted_value
            continue

        if expanded_property == "@type":
            # type values resolve against the ORIGINAL (pre-scoped)
            # context (ref lib/compact.js:246-253 uses inputCtx).
            # NOTE the singleton unwrap IGNORES compactArrays (ref
            # :253-255 has no option check): a lone @type compacts to
            # a string even under compactArrays=false. Array form is
            # forced only by @container:@set on the ALIAS in 1.1 mode
            # (typeAsSet) or an empty expanded array (ref :263-268).
            ev = expanded_value if isinstance(expanded_value, list) \
                else [expanded_value]
            compacted_value = [compact_iri(input_ctx, t, vocab=True)
                               for t in ev]
            if len(compacted_value) == 1:
                compacted_value = compacted_value[0]
            alias = compact_iri(active_ctx, "@type", vocab=True)
            container = get_context_value(active_ctx, alias,
                                          "@container") or []
            type_as_set = ("@set" in container and
                           active_ctx["processingMode"] != "json-ld-1.0")
            as_array = type_as_set or (
                isinstance(compacted_value, list) and len(ev) == 0)
            add_value(rval, alias, compacted_value,
                      property_is_array=as_array)
            continue

        if expanded_property == "@reverse":
            compacted_value = compact(active_ctx, "@reverse", expanded_value,
                                      options)
            # move reverse-mapped properties up (ref lib/compact.js:283-309)
            for prop in list(compacted_value.keys()):
                mapping = active_ctx["mappings"].get(prop)
                if mapping and mapping.get("reverse"):
                    container = get_context_value(active_ctx, prop,
                                                  "@container") or []
                    use_array = "@set" in container or not compact_arrays
                    add_value(rval, prop, compacted_value[prop],
                              property_is_array=use_array)
                    del compacted_value[prop]
            if compacted_value:
                alias = compact_iri(active_ctx, "@reverse", vocab=True)
                add_value(rval, alias, compacted_value)
            continue

        if expanded_property == "@preserve":
            compacted_value = compact(active_ctx, active_property,
                                      expanded_value, options)
            if not (isinstance(compacted_value, list) and
                    len(compacted_value) == 0):
                add_value(rval, expanded_property, compacted_value)
            continue

        if expanded_property == "@index":
            container = get_context_value(active_ctx, active_property,
                                          "@container") or []
            if "@index" in container:
                continue  # drop @index covered by the container
            alias = compact_iri(active_ctx, "@index", vocab=True)
            add_value(rval, alias, expanded_value)
            continue

        # keywords other than @graph/@list/@included are added as-is
        # under their alias; @included flows through the GENERIC
        # per-item loop below (ref lib/compact.js:349-361) — that is
        # what preserves an empty @included array and compacts each
        # included node with term selection
        if (is_keyword(expanded_property) and
                expanded_property not in ("@graph", "@list", "@included")):
            alias = compact_iri(active_ctx, expanded_property, vocab=True)
            add_value(rval, alias, expanded_value)
            continue

        # NOTE: '@graph' is NOT special-cased — it flows through the
        # generic per-item loop (ref lib/compact.js:350-355 only skips
        # keywords OTHER than @graph/@list/@included) and the final
        # isArray rule keeps it an array always (ref :651-662)

        # expansion guarantees arrays here; skipExpansion inputs may
        # violate — the reference throws (ref lib/compact.js:363-368)
        if not isinstance(expanded_value, list):
            raise JsonLdError(
                "JSON-LD expansion error; expanded value must be an "
                "array.", "invalid JSON-LD syntax")

        # empty array → preserve with property-as-array
        if isinstance(expanded_value, list) and len(expanded_value) == 0:
            item_active_property = compact_iri(
                active_ctx, expanded_property, value=expanded_value,
                vocab=True, reverse=inside_reverse)
            nest_result, nest_prop = _nest_target(
                active_ctx, rval, item_active_property, options)
            add_value(nest_result, item_active_property, expanded_value,
                      property_is_array=True)
            continue

        for expanded_item in (expanded_value if
                              isinstance(expanded_value, list)
                              else [expanded_value]):
            item_active_property = compact_iri(
                active_ctx, expanded_property, value=expanded_item,
                vocab=True, reverse=inside_reverse)
            nest_result, _ = _nest_target(active_ctx, rval,
                                          item_active_property, options)
            container = get_context_value(active_ctx, item_active_property,
                                          "@container") or []

            is_graph_item = is_graph(expanded_item)
            inner = expanded_item
            if is_list(expanded_item):
                inner = expanded_item["@list"]
            elif is_graph_item:
                inner = expanded_item["@graph"]

            compacted_item = compact(active_ctx, item_active_property,
                                     inner, options)

            if is_list(expanded_item):
                if not isinstance(compacted_item, list):
                    compacted_item = [compacted_item]
                if "@list" in container:
                    add_value(nest_result, item_active_property,
                              compacted_item, value_is_array=True)
                    continue
                # wrap using @list alias and FALL THROUGH to the shared
                # map/array logic (ref lib/compact.js:441-470: no
                # continue — a wrapped list participates in container
                # maps and in the singleton-unwrap rule)
                alias = compact_iri(active_ctx, "@list", vocab=True)
                wrapped = {alias: compacted_item}
                if "@index" in expanded_item:
                    idx_alias = compact_iri(active_ctx, "@index",
                                            vocab=True)
                    wrapped[idx_alias] = expanded_item["@index"]
                compacted_item = wrapped

            if is_graph_item:
                compacted_item = _compact_graph_item(
                    active_ctx, nest_result, item_active_property,
                    expanded_item, compacted_item, container,
                    compact_arrays, options)
                continue

            # language/index/id/type map reconstruction
            # (ref lib/compact.js:552-649)
            map_key = None
            is_map_container = ("@language" in container or
                                "@index" in container or
                                "@id" in container or
                                "@type" in container)
            if "@language" in container:
                # the simplification tests the COMPACTED item for a
                # literal "@value" key (ref lib/compact.js:567-570):
                # when @value is term-ALIASED the compacted dict has no
                # such key and stays an object in the language map
                # (fuzz seed 171174)
                if is_value(compacted_item):
                    compacted_item = compacted_item.get("@value")
                map_key = expanded_item.get("@language")
            elif "@index" in container:
                index_key = get_context_value(active_ctx,
                                              item_active_property,
                                              "@index") or "@index"
                if index_key == "@index":
                    map_key = expanded_item.get("@index")
                    if isinstance(compacted_item, dict):
                        container_key = compact_iri(active_ctx, index_key,
                                                    vocab=True)
                        compacted_item.pop(container_key, None)
                else:
                    # reference quirk preserved for parity: the lookup
                    # uses the RAW index-key string against the
                    # COMPACTED item (ref lib/compact.js:580-598
                    # `compactedItem[indexKey]`), which for an
                    # IRI-valued @index never matches → key is @none
                    # and the index property stays on the item
                    vals = compacted_item.get(index_key) \
                        if isinstance(compacted_item, dict) else None
                    vals = vals if isinstance(vals, list) else (
                        [vals] if vals is not None else [])
                    key0 = vals[0] if vals else None
                    if not isinstance(key0, str):
                        map_key = None  # → aliased @none below
                    else:
                        map_key = key0
                        others = vals[1:]
                        if len(others) == 0:
                            compacted_item.pop(index_key, None)
                        elif len(others) == 1:
                            compacted_item[index_key] = others[0]
                        else:
                            compacted_item[index_key] = others
            elif "@id" in container:
                id_alias = compact_iri(active_ctx, "@id", vocab=True)
                if isinstance(compacted_item, dict):
                    map_key = compacted_item.pop(id_alias, None)
                    if isinstance(map_key, str) and not map_key.startswith(
                            "@"):
                        map_key = compact_iri(active_ctx,
                                              expanded_item.get("@id",
                                                                "@none"),
                                              base=options.get("base"))
            elif "@type" in container:
                type_alias = compact_iri(active_ctx, "@type", vocab=True)
                if isinstance(compacted_item, dict):
                    types = compacted_item.pop(type_alias, [])
                    types = types if isinstance(types, list) else [types]
                    map_key = types.pop(0) if types else None
                    if types:
                        add_value(compacted_item, type_alias,
                                  types if len(types) > 1 else types[0])
                    # re-compact single-@id remains
                    if len(compacted_item) == 1 and "@id" in expanded_item:
                        recompacted = compact(
                            active_ctx, item_active_property,
                            {"@id": expanded_item["@id"]}, options)
                        compacted_item = recompacted
            if is_map_container:
                map_object = nest_result.setdefault(item_active_property, {})
                if isinstance(map_key, list):
                    map_key = map_key[0] if map_key else None
                if not map_key:
                    # EVERY falsy key (missing, null, empty string) is
                    # indexed through compactIri('@none') — so a term
                    # aliasing @none names the bucket (ref
                    # lib/compact.js:640-643)
                    map_key = compact_iri(active_ctx, "@none", vocab=True)
                # propertyIsArray here is @set ONLY — unlike the @graph
                # map branch, compactArrays does not force arrays (ref
                # lib/compact.js:645-649)
                as_array = "@set" in container
                if isinstance(map_object, dict):
                    add_value(map_object, map_key, compacted_item,
                              property_is_array=as_array)
                # else: JS GIGO parity (ref lib/compact.js:556-562 +
                # node-verified, fuzz seed 163115) — a prior mixed item
                # demoted the map into an ARRAY via addValue; JS then
                # assigns the string key onto the array, which JSON
                # serialization silently drops. The entry vanishes.
            else:
                # array iff: compactArrays off, @set/@list container,
                # empty-array item, or the EXPANDED property is
                # @list/@graph (ref lib/compact.js:651-662)
                as_array = not compact_arrays or "@set" in container or \
                    "@list" in container or \
                    (isinstance(compacted_item, list) and
                     len(compacted_item) == 0) or \
                    expanded_property in ("@list", "@graph")
                add_value(nest_result, item_active_property, compacted_item,
                          property_is_array=as_array)

    return rval


def _compact_graph_item(active_ctx, nest_result, item_active_property,
                        expanded_item, compacted_item, container,
                        compact_arrays, options):
    """@graph container cases (ref lib/compact.js:476-551)."""
    if not isinstance(compacted_item, list):
        compacted_item = [compacted_item]
    graph_alias = compact_iri(active_ctx, "@graph", vocab=True)

    # map branch: @graph+@id always; @graph+@index only for simple
    # graphs (ref lib/compact.js:477-499 — note the JS precedence:
    # `@id || (@index && isSimpleGraph)`)
    if "@graph" in container and (
            "@id" in container or
            ("@index" in container and is_simple_graph(expanded_item))):
        map_object = nest_result.setdefault(item_active_property, {})
        key = expanded_item.get("@id") if "@id" in container \
            else expanded_item.get("@index")
        if not key:
            key = compact_iri(active_ctx, "@none", vocab=True)
        inner = compacted_item if len(compacted_item) != 1 or \
            not compact_arrays else compacted_item[0]
        if isinstance(map_object, dict):
            add_value(map_object, key, inner,
                      property_is_array=(not compact_arrays or
                                         "@set" in container))
        # else: JS GIGO parity — string-keyed assignment onto an array
        # vanishes in JSON (see the generic map branch note)
        return compacted_item
    if "@graph" in container and is_simple_graph(expanded_item):
        # simple graph, no keying container (ref :500-514); multiple
        # values wrap in @included
        if len(compacted_item) > 1:
            inner = {"@included": compacted_item}
        else:
            inner = compacted_item if not compact_arrays \
                else compacted_item[0]
        add_value(nest_result, item_active_property, inner,
                  property_is_array=(not compact_arrays or
                                     "@set" in container))
        return compacted_item

    # no @graph container: wrap explicitly
    wrapped = {graph_alias: compacted_item if len(compacted_item) != 1 or
               not compact_arrays else compacted_item[0]}
    if "@id" in expanded_item:
        id_alias = compact_iri(active_ctx, "@id", vocab=True)
        # the graph's @id is copied RAW — no IRI compaction/
        # relativization (ref lib/compact.js:529-536)
        wrapped[id_alias] = expanded_item["@id"]
    if "@index" in expanded_item:
        idx_alias = compact_iri(active_ctx, "@index", vocab=True)
        wrapped[idx_alias] = expanded_item["@index"]
    add_value(nest_result, item_active_property, wrapped,
              property_is_array=not compact_arrays or "@set" in container)
    return wrapped


def _nest_target(active_ctx, rval, item_active_property, options):
    """@nest routing (ref lib/compact.js:379-417)."""
    nest_prop = get_context_value(active_ctx, item_active_property, "@nest")
    if nest_prop is None:
        return rval, None
    if nest_prop != "@nest" and \
            expand_iri(active_ctx, nest_prop, vocab=True) != "@nest":
        raise JsonLdError("nested property must have @nest value.",
                          "invalid @nest value")
    nest_result = rval.setdefault(nest_prop, {})
    return nest_result, nest_prop


_CI_MISS = object()


def compact_iri(active_ctx, iri, *, value=None, vocab=False, reverse=False,
                base=None):
    """IRI Compaction (ref lib/compact.js:688-957).

    Memoized per processed (immutable-after-processing) active context:
    the result is a pure function of (iri, vocab, reverse, base) plus
    the VALUE FEATURES the term-selection consults — the container
    candidates and type/language key (ref lib/compact.js:744-871) —
    which the memo key captures exactly, so structurally-identical
    values share one selection. The memo rides the active context, is
    dropped on clone, like _iri_memo (context.py _clone_active_context),
    and is capped at MEMO_CAP."""
    if iri is None:
        return iri
    if not isinstance(iri, str):
        # GIGO parity (verified vs node): JS object-key coercion
        # stringifies an array with ','.join, so a SINGLE-element
        # array naming a termed IRI hits the inverse context and
        # compacts to that term; everything else passes through
        # every branch unchanged
        if vocab and isinstance(iri, list):
            joined = ",".join(x if isinstance(x, str) else str(x)
                              for x in iri)
            inverse = get_inverse_context(active_ctx)
            if joined in inverse:
                term = _select_term(active_ctx, joined, None,
                                    ["@set", "@none"], "@type", "@id")
                if term is not None:
                    return term
            # on inverse miss the reference keeps going with the array
            # (verified vs node, fuzz seed 6400032): JS Array.indexOf
            # is element-wise, so a first-element exact @vocab match
            # reaches iri.substr and CRASHES; the char-trie CURIE scan
            # never matches an array; the prefix-confusion loop then
            # calls iri.startsWith and CRASHES iff any @prefix term
            # exists (ref lib/compact.js:873-934)
            vocab_val = active_ctx.get("@vocab")
            if vocab_val is not None and iri and iri[0] == vocab_val:
                raise TypeError("iri.substr is not a function")
            for td in active_ctx["mappings"].values():
                if td and td.get("_prefix"):
                    raise TypeError("iri.startsWith is not a function")
        return iri
    if is_keyword(iri):
        # keyword simple-alias fast path: exact guard chain (ref
        # lib/compact.js:710-716) and NO early return on miss — a
        # keyword alias indexed under another container (e.g. a @type
        # alias with @container:@set) is still selectable through the
        # GENERIC vocab path below with its ['@set','@none'] candidates
        inverse = get_inverse_context(active_ctx)
        entry = inverse.get(iri)
        if entry and "@none" in entry and \
                "@type" in entry["@none"] and \
                "@none" in entry["@none"]["@type"]:
            return entry["@none"]["@type"]["@none"]

    memo = active_ctx.get("_ci_memo")
    if memo is None:
        memo = active_ctx["_ci_memo"] = {}

    if vocab:
        inverse = get_inverse_context(active_ctx)
        if iri in inverse:
            containers = []
            # the guard is the PRESENCE of an @graph key, not
            # is_graph() (ref lib/compact.js:724: `!('@graph' in
            # value)`) — a non-graph node that merely HAS @graph gets
            # no @index candidates (fuzz seed 163115, third layer)
            if isinstance(value, dict) and "@index" in value and \
                    "@graph" not in value:
                containers.append("@index")
                containers.append("@index@set")
            # a preserve object contributes its first value
            # (ref lib/compact.js:730-732)
            if isinstance(value, dict) and "@preserve" in value:
                pv = value["@preserve"]
                value = pv[0] if isinstance(pv, list) and pv else None
            # graph-container candidates are computed INDEPENDENTLY of
            # the reverse/list/value chain below — a REVERSE graph
            # value still gets them (ref lib/compact.js:735-758; fuzz
            # seed 181323); any other non-value object is an
            # @id/@type-map candidate
            if isinstance(value, dict) and is_graph(value):
                if "@index" in value:
                    containers.extend(["@graph@index", "@graph@index@set",
                                       "@index", "@index@set"])
                if "@id" in value:
                    containers.extend(["@graph@id", "@graph@id@set"])
                containers.extend(["@graph", "@graph@set", "@set"])
                if "@index" not in value:
                    containers.extend(["@graph@index", "@graph@index@set",
                                       "@index", "@index@set"])
                if "@id" not in value:
                    containers.extend(["@graph@id", "@graph@id@set"])
            elif isinstance(value, dict) and not is_value(value):
                containers.append("@id")
                containers.append("@id@set")
                containers.append("@type")
                containers.append("@set@type")  # sorted join (ref :757)
            type_or_language = "@language"
            type_or_language_value = "@null"

            if reverse:
                type_or_language = "@type"
                type_or_language_value = "@reverse"
                containers.append("@set")
            elif isinstance(value, dict) and is_list(value):
                if "@index" not in value:
                    containers.append("@list")
                lst = value["@list"]
                if lst:
                    common_language = None
                    common_type = None
                    for item in lst:
                        item_language, item_type = "@none", "@none"
                        if is_value(item):
                            # item languages are LOWERCASED here (ref
                            # lib/compact.js:789-795) — the inverse ctx
                            # keys are lowercase
                            if "@direction" in item:
                                lang = (item.get("@language") or "")
                                item_language = \
                                    f"{lang.lower()}_{item['@direction']}"
                            elif "@language" in item:
                                item_language = item["@language"].lower()
                            elif "@type" in item:
                                item_type = item["@type"]
                            else:
                                item_language = "@null"
                        else:
                            item_type = "@id"
                        if common_language is None:
                            common_language = item_language
                        elif item_language != common_language and \
                                is_value(item):
                            # only a differing VALUE item degrades the
                            # common language — node objects don't (ref
                            # lib/compact.js:805: `&& _isValue(item)`;
                            # fuzz seed 950068)
                            common_language = "@none"
                        if common_type is None:
                            common_type = item_type
                        elif item_type != common_type:
                            common_type = "@none"
                        if common_language == "@none" and \
                                common_type == "@none":
                            break
                    common_language = common_language or "@none"
                    common_type = common_type or "@none"
                    if common_type != "@none":
                        type_or_language = "@type"
                        type_or_language_value = common_type
                    else:
                        type_or_language_value = common_language
                else:
                    # an empty list matches any @list-container term
                    # regardless of type/language (ref lib/compact.js:
                    # 775-780: typeOrLanguage '@any', value '@none')
                    type_or_language = "@any"
                    type_or_language_value = "@none"
            else:
                if isinstance(value, dict) and is_value(value):
                    if "@language" in value and "@index" not in value:
                        containers.extend(["@language", "@language@set"])
                        lang = value["@language"]
                        if "@direction" in value:
                            type_or_language_value = \
                                f"{lang}_{value['@direction']}"
                        else:
                            type_or_language_value = lang
                    elif "@direction" in value and "@index" not in value:
                        type_or_language_value = f"_{value['@direction']}"
                    elif "@type" in value:
                        type_or_language = "@type"
                        type_or_language_value = value["@type"]
                else:
                    # graph values and bare IRIs (value=None, e.g. a
                    # node's @type entry) select by @type/@id here —
                    # graph CONTAINER candidates were added above
                    # (ref lib/compact.js:843-847)
                    type_or_language = "@type"
                    type_or_language_value = "@id"
                containers.append("@set")
            containers.append("@none")
            # index-less maps can hold index-less values
            if isinstance(value, dict) and "@index" not in value:
                containers.extend(["@index", "@index@set"])
            if isinstance(value, dict) and is_value(value) and \
                    len(value) == 1:
                containers.extend(["@language", "@language@set"])

            # memo cut: everything from _select_term down is a pure
            # function of this key. Beyond the features above,
            # _select_term also reads value['@id'] (prefs order
            # depends on whether it compacts back to a term — fuzz
            # seed 92121) and the list-of-lists shape; the CURIE
            # fallback reads value's None-ness. Capture ALL of them.
            sel_id = value["@id"] if isinstance(value, dict) and \
                "@id" in value else _CI_MISS
            lol = isinstance(value, dict) and is_list(value) and \
                bool(value.get("@list")) and \
                all(isinstance(i, dict) and is_list(i)
                    for i in value["@list"])
            key = (iri, reverse, base, value is None, type_or_language,
                   type_or_language_value, tuple(containers), sel_id,
                   lol)
            try:
                rval = memo.get(key, _CI_MISS)
            except TypeError:
                # GIGO features (e.g. a malformed value object whose
                # @type is a list) — unhashable; skip the memo, the
                # slow path has JS-parity handling for these
                key = None
                rval = _CI_MISS
            if rval is not _CI_MISS:
                return rval
            term = _select_term(active_ctx, iri, value, containers,
                                type_or_language, type_or_language_value)
            if term is None:
                term = _compact_iri_tail(active_ctx, iri, value is None,
                                         vocab, base)
            if key is not None:
                if len(memo) > MEMO_CAP:
                    memo.clear()
                memo[key] = term
            return term

    key = (iri, vocab, reverse, base, value is None)
    rval = memo.get(key, _CI_MISS)
    if rval is _CI_MISS:
        rval = _compact_iri_tail(active_ctx, iri, value is None, vocab,
                                 base)
        if len(memo) > MEMO_CAP:
            memo.clear()
        memo[key] = rval
    return rval


def _compact_iri_tail(active_ctx, iri, value_is_none, vocab, base):
    """Post-selection fallbacks of IRI compaction (ref
    lib/compact.js:874-957): @vocab suffix, shortest-least CURIE,
    prefix-confusion guard, base relativization."""
    if vocab:
        # @vocab suffix (ref lib/compact.js:874-886)
        vocab_iri = active_ctx.get("@vocab")
        if vocab_iri and iri.startswith(vocab_iri) and iri != vocab_iri:
            suffix = iri[len(vocab_iri):]
            if suffix not in active_ctx["mappings"]:
                return suffix

    # shortest-least CURIE via the fast map (ref lib/compact.js:889-929)
    candidate = None
    fast_map = active_ctx.get("fast_curie_map")
    if fast_map is None:
        get_inverse_context(active_ctx)
        fast_map = active_ctx.get("fast_curie_map") or {}
    if iri:
        partial = fast_map.get(iri[0], [])
        for prefix_iri, terms in partial:
            if len(prefix_iri) >= len(iri):
                continue
            if not iri.startswith(prefix_iri):
                continue
            for term in terms:
                mapping = active_ctx["mappings"].get(term)
                if not mapping or not mapping.get("_prefix"):
                    continue
                curie = term + ":" + iri[len(prefix_iri):]
                is_usable = (curie not in active_ctx["mappings"] or
                             (value_is_none and
                              active_ctx["mappings"][curie].get("@id") ==
                              iri))
                if is_usable and (candidate is None or
                                  _shortest_least(curie, candidate) < 0):
                    candidate = curie
    if candidate is not None:
        return candidate

    # prefix-confusion guard (ref lib/compact.js:932-938)
    for term, mapping in active_ctx["mappings"].items():
        if mapping and mapping.get("_prefix") and \
                iri.startswith(term + ":"):
            raise JsonLdError(
                f"absolute compaction of {iri} would be confused with "
                f"prefix {term}.", "IRI confused with prefix")

    if not vocab:
        # compact relative to base (exact port of lib/compact.js
        # :941-952): if any processed context SET @base, relativize
        # against prependBase(options.base, ctx @base) — with
        # @base:null preserving the IRI; otherwise against the
        # API-level base option alone (default '' → effectively no
        # relativization, see remove_base root rule). Under
        # compactToRelative:false callers pass base=None with no ctx
        # flag consulted... the ctx flag still applies per reference.
        if active_ctx.get("_ctx_has_base"):
            if not active_ctx.get("base_iri"):
                return iri  # @base: null (JS falsy) keeps IRI absolute
            return remove_base(
                parse_iri(prepend_base(base or "",
                                       active_ctx["base_iri"])), iri)
        return remove_base(parse_iri(base or ""), iri)
    return iri


def _shortest_least(a, b):
    if len(a) != len(b):
        return len(a) - len(b)
    return -1 if a < b else (0 if a == b else 1)


def _select_term(active_ctx, iri, value, containers, type_or_language,
                 type_or_language_value):
    """Term Selection (ref lib/compact.js:1101-1161)."""
    if type_or_language_value is None:
        type_or_language_value = "@null"
    prefs = []
    if type_or_language_value in ("@id", "@reverse") and \
            isinstance(value, dict) and "@id" in value:
        if type_or_language_value == "@reverse":
            prefs.append("@reverse")
        term = compact_iri(active_ctx, value["@id"], vocab=True)
        mapping = active_ctx["mappings"].get(term)
        if mapping and mapping.get("@id") == value["@id"]:
            prefs.extend(["@vocab", "@id"])
        else:
            prefs.extend(["@id", "@vocab"])
    else:
        prefs.append(type_or_language_value)
        # consider direction only (ref lib/compact.js:1131-1137): a
        # "lang_dir" pref also tries its bare "_dir" form, so a term
        # defined with @direction alone matches language+direction
        # values (difftest seed 121172)
        lang_dir = next((p for p in prefs
                         if isinstance(p, str) and "_" in p), None)
        if lang_dir:
            prefs.append(re.sub(r"^[^_]+_", "_", lang_dir))
        # list of lists support
        if isinstance(value, dict) and is_list(value):
            lst = value.get("@list", [])
            if lst and all(isinstance(i, dict) and is_list(i) for i in lst):
                prefs.insert(0, "@list")
    prefs.append("@none")

    inverse = get_inverse_context(active_ctx)
    container_map = inverse.get(iri, {})
    for container in containers:
        if container not in container_map:
            continue
        type_language_map = container_map[container]
        value_map = type_language_map.get(type_or_language)
        if value_map is None:
            continue
        for pref in prefs:
            if pref in value_map:
                return value_map[pref]
    return None


def compact_value(active_ctx, active_property, value, options=None):
    """Value Compaction (ref lib/compact.js:970-1087)."""
    options = options or {}
    if is_value(value):
        type_ = get_context_value(active_ctx, active_property, "@type")
        language = get_context_value(active_ctx, active_property,
                                     "@language")
        direction = get_context_value(active_ctx, active_property,
                                      "@direction")
        container = get_context_value(active_ctx, active_property,
                                      "@container") or []

        preserve_index = "@index" in value and "@index" not in container

        if not preserve_index and type_ != "@none":
            # matching @type or @language/@direction from the context
            # (ref lib/compact.js:984-999; note JS `undefined === null`
            # is false, so an ABSENT @type never matches a null type)
            if "@type" in value and value["@type"] == type_:
                return value["@value"]
            if "@language" in value and value["@language"] == language \
                    and "@direction" in value and \
                    value["@direction"] == direction:
                return value["@value"]
            if "@language" in value and value["@language"] == language:
                return value["@value"]
            if "@direction" in value and value["@direction"] == direction:
                return value["@value"]

        # bare @value if: only key (or only + unpreserved @index), no
        # default language applies (ref lib/compact.js:1001-1016)
        key_count = len(value)
        is_value_only_key = key_count == 1 or (
            key_count == 2 and "@index" in value and not preserve_index)
        # (our active-ctx dict always carries the key; the reference
        # only has '@language' when a default language is set)
        has_default_language = active_ctx.get("@language") is not None
        is_value_string = isinstance(value.get("@value"), str)
        mapping = active_ctx["mappings"].get(active_property) \
            if active_property else None
        has_null_mapping = mapping is not None and \
            "@language" in mapping and mapping["@language"] is None
        if is_value_only_key and type_ != "@none" and \
                (not has_default_language or not is_value_string or
                 has_null_mapping):
            return value["@value"]

        rval = {}
        if "@index" in value and "@index" not in container:
            idx_alias = compact_iri(active_ctx, "@index", vocab=True)
            rval[idx_alias] = value["@index"]
        if "@type" in value:
            type_alias = compact_iri(active_ctx, "@type", vocab=True)
            rval[type_alias] = compact_iri(active_ctx, value["@type"],
                                           vocab=True)
        elif "@language" in value:
            lang_alias = compact_iri(active_ctx, "@language", vocab=True)
            rval[lang_alias] = value["@language"]
        if "@direction" in value:
            dir_alias = compact_iri(active_ctx, "@direction", vocab=True)
            rval[dir_alias] = value["@direction"]
        value_alias = compact_iri(active_ctx, "@value", vocab=True)
        rval[value_alias] = value["@value"]
        return rval

    # subject reference (ref lib/compact.js:1066-1086)
    expanded_property = expand_iri(active_ctx, active_property, vocab=True) \
        if active_property else None
    type_ = get_context_value(active_ctx, active_property, "@type")
    compacted = compact_iri(active_ctx, value["@id"],
                            vocab=type_ == "@vocab",
                            base=options.get("base"))
    # compact to a SCALAR for @id/@vocab coercion OR directly under
    # @graph (ref lib/compact.js:1080-1082 is a DISJUNCTION — graph
    # members that are subject references become bare id strings; only
    # reachable via framing/node-map outputs, since expansion drops
    # free-floating id-only graph members. Fuzz seed 60000747.)
    if type_ in ("@id", "@vocab") or expanded_property == "@graph":
        return compacted
    id_alias = compact_iri(active_ctx, "@id", vocab=True)
    return {id_alias: compacted}
