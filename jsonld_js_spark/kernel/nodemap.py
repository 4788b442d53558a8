"""Node Map Generation, merging, flattening — JSON-LD 1.1 API §7/§8.

Behavioral reference: lib/nodeMap.js:24-290, lib/flatten.js:24-38,
lib/util.js:365-369,440-464 (relabelBlankNodes). From-scratch Python.

Spark role (SURVEY.md §2.4): in the distributed pipeline this kernel runs
per-document inside Arrow UDFs to *emit* (graph, subject, predicate,
object) rows; the cross-document *merge* (this module's merge semantics:
set-union of property values, first-writer-wins @index/@type union) is a
Spark groupBy + dedup over those rows (operators/nodemap_merge.py).
"""

from __future__ import annotations

import copy

from .util import (
    JsonLdError, IdentifierIssuer, add_value, compare_values, has_value,
    is_keyword, is_list, is_subject_reference, is_blank_node_id, MEMO_CAP,
)


def create_merged_node_map(expanded, issuer: IdentifierIssuer | None = None):
    """(ref lib/nodeMap.js:24-34)"""
    issuer = issuer or IdentifierIssuer("_:b")
    graphs = {"@default": {}}
    create_node_map(expanded, graphs, "@default", issuer)
    return merge_node_maps(graphs)


def _ref_ids(memo: dict, subject: dict, prop: str) -> set:
    """Per-(subject, prop) set of the @id values of elements currently
    in subject[prop] — a PURE optimization for the node-reference
    set-semantics insert. compare_values makes a subject reference
    {'@id': x} equal to an existing element IFF that element carries
    '@id' == x (the @value branch needs @value on BOTH sides), so the
    O(len) has_value scan per insert reduces exactly to set
    membership; without it a t-turn conversation pays O(t^2) dict
    compares on its hasTurn list (measured 2.7M element scans per 30k
    transcript rows). Built lazily from the live list (correct even if
    the subject predates this memo) and updated on every insert of an
    @id-bearing element; keyed by id(subject) — subjects stay alive in
    `graphs` for the memo's whole lifetime (one top-level
    create_node_map call), so keys cannot be recycled."""
    key = (id(subject), prop)
    s = memo.get(key)
    if s is None:
        existing = subject.get(prop)
        if existing is None:
            items = ()
        elif isinstance(existing, list):
            items = existing
        else:
            items = (existing,)
        s = {e["@id"] for e in items
             if isinstance(e, dict) and "@id" in e}
        memo[key] = s
    return s


def create_node_map(input_, graphs: dict, graph: str,
                    issuer: IdentifierIssuer, name: str | None = None,
                    list_: dict | None = None, _memo: dict | None = None):
    """Node Map Generation (ref lib/nodeMap.js:47-223)."""
    if _memo is None:
        _memo = {}
    if input_.__class__ is not dict:
        if isinstance(input_, list):
            for node in input_:
                create_node_map(node, graphs, graph, issuer, None, list_,
                                _memo)
            return
        if not isinstance(input_, dict):
            if list_ is not None:
                list_["@list"].append(input_)
            return

    # value objects (ref lib/nodeMap.js:62-82)
    if "@value" in input_:
        if "@type" in input_:
            type_ = input_["@type"]
            if isinstance(type_, str) and type_.startswith("_:"):
                input_["@type"] = type_ = issuer.get_id(type_)
        if list_ is not None:
            list_["@list"].append(input_)
        return

    if list_ is not None and is_list(input_):
        result = {"@list": []}
        create_node_map(input_["@list"], graphs, graph, issuer, name, result,
                        _memo)
        list_["@list"].append(result)
        return
    # a bare list object OUTSIDE a list context falls through to the
    # subject path (ref lib/nodeMap.js:77: the isList branch is gated
    # on `list &&`): there isBlankNode() is false for it, so its name
    # is JS `undefined` — it lands under the literal 'undefined' key
    # with no @id in serialized output. Mirrored below.

    # node object ---------------------------------------------------------
    # relabel bnode @type values first (ref lib/nodeMap.js:87-94)
    types = input_.get("@type")
    if types is not None or "@type" in input_:
        if isinstance(types, list):
            for t in types:
                if isinstance(t, str) and t.startswith("_:"):
                    input_["@type"] = [
                        issuer.get_id(t)
                        if isinstance(t, str) and t.startswith("_:") else t
                        for t in types]
                    break
        elif isinstance(types, str) and types.startswith("_:"):
            input_["@type"] = issuer.get_id(types)

    if name is None:
        name = input_.get("@id")
        if is_list(input_):
            # JS-undefined name quirk (see gate above): keyed under
            # 'undefined', node carries no @id
            name = "undefined"
        elif "@id" in input_ and not isinstance(input_["@id"], str):
            # GIGO parity (verified vs node, fuzz seed 96000999): the
            # reference's isBlankNode() calls input['@id'].indexOf on
            # the PRESENT key — a null/non-string @id (e.g. a graph-id
            # map key that expanded to null) crashes with a TypeError,
            # not a JsonLdError
            raise TypeError(
                "Cannot read properties of null (reading 'indexOf')")
        elif name is None or is_blank_node_id(name):
            name = issuer.get_id(name)

    subjects = graphs.get(graph)
    if subjects is None:
        subjects = graphs[graph] = {}
    subject = subjects.get(name)
    # a fresh subject has no ref-memo sets (_ref_ids) until a recursion
    # could reach it, so until then its properties dedupe node
    # references in sets of their own, left out of the memo (a later
    # _ref_ids builds from the live list)
    fresh = subject is None
    if fresh:
        subject = subjects[name] = {} \
            if name == "undefined" and is_list(input_) else {"@id": name}

    if list_ is not None:
        list_["@list"].append({"@id": name})

    shape = _NODE_SHAPES.get(tuple(input_))
    for property_, cat in shape or _node_shape(input_):  # sorted (ref :111)
        objects = input_[property_]

        if cat == _K_PROP:
            prop_out = property_
        elif cat == _K_ID:
            continue

        # @reverse: invert onto the object node (ref lib/nodeMap.js:119-135)
        elif cat == _K_REVERSE:
            fresh = False
            referenced_node = {"@id": name}
            reverse_map = input_["@reverse"]
            for reverse_property, items in reverse_map.items():
                for item in items:
                    item_name = item.get("@id")
                    if "@id" in item and not isinstance(item_name, str):
                        # GIGO parity: the reference's isBlankNode(item)
                        # reads item['@id'].indexOf — present-but-null
                        # @id crashes (fuzz seed 96000999)
                        raise TypeError("Cannot read properties of null "
                                        "(reading 'indexOf')")
                    if item_name is None or is_blank_node_id(item_name):
                        item_name = issuer.get_id(item_name)
                    create_node_map(item, graphs, graph, issuer, item_name,
                                    None, _memo)
                    # ref-memo insert; keep the SAME referenced_node
                    # object across subjects (aliasing as in the ref)
                    tgt = subjects[item_name]
                    ids = _ref_ids(_memo, tgt, reverse_property)
                    if name not in ids:
                        ids.add(name)
                        add_value(tgt, reverse_property, referenced_node,
                                  property_is_array=True)
            continue

        # @graph: recurse with graph = name (ref lib/nodeMap.js:139-145)
        elif cat == _K_GRAPH:
            fresh = False
            graphs.setdefault(name, {})
            g = graph if graph == "@merged" else name
            create_node_map(objects, graphs, g, issuer, None, None, _memo)
            continue

        # @included (ref lib/nodeMap.js:149-151)
        elif cat == _K_INCLUDED:
            fresh = False
            create_node_map(objects, graphs, graph, issuer, None, None,
                            _memo)
            continue

        # other keywords copied (ref lib/nodeMap.js:154-166)
        elif cat == _K_KEYWORD:
            if property_ == "@index" and "@index" in subject and \
                    (input_["@index"] != subject["@index"] or
                     (isinstance(input_["@index"], dict) and
                      input_["@index"].get("@id") !=
                      subject["@index"].get("@id"))):
                raise JsonLdError("conflicting @index property detected.",
                                  "conflicting indexes")
            subject[property_] = input_[property_]
            continue

        elif cat == _K_TYPE:
            prop_out = "@type"
        else:
            # bnode property (generalized RDF); relabel
            # (ref lib/nodeMap.js:170-178)
            prop_out = issuer.get_id(property_)

        # ensure property is added for empty arrays (ref :176-180)
        if objects.__class__ is not list and not isinstance(objects, list):
            objects = [objects]
        elif not objects:
            if prop_out not in subject:
                subject[prop_out] = []
            continue

        if cat == _K_TYPE:
            if "@type" not in subject and len(objects) == 1:
                subject["@type"] = [objects[0]]
            else:
                for type_ in objects:
                    add_value(subject, "@type", type_,
                              property_is_array=True, allow_duplicate=False)
            continue

        if fresh and len(objects) == 1:
            # the one value of a property of a fresh subject that no
            # recursion has reached yet: prop_out is not in the subject,
            # so a plain value object's set-semantics insert is a new
            # one-element list
            o = objects[0]
            if o.__class__ is dict and "@value" in o and \
                    "@list" not in o and "@id" not in o:
                t = o.get("@type")
                if t.__class__ is str and t.startswith("_:"):
                    o["@type"] = issuer.get_id(t)
                subject[prop_out] = [o]
                continue

        refs = None  # the @ids among subject[prop_out], once read
        own = False  # refs is this call's own set, not the memo's
        for o in objects:
            # inlined is_value/is_list (one class test + key probes —
            # this loop dominates node-map CPU on flat corpora)
            if o.__class__ is dict or isinstance(o, dict):
                if "@list" in o:
                    fresh = False
                    if own:
                        refs = None
                    result = {"@list": []}
                    create_node_map(o["@list"], graphs, graph, issuer, name,
                                    result, _memo)
                    add_value(subject, prop_out, result,
                              property_is_array=True, allow_duplicate=False)
                    continue
                if "@value" not in o:
                    # node or subject reference (ref lib/nodeMap.js:182-205)
                    # skip null/empty @id (JS falsy, ref :190-192)
                    if "@id" in o and not o["@id"]:
                        continue
                    id_ = o.get("@id")
                    if id_ is None or ((id_.__class__ is str or
                                        isinstance(id_, str)) and
                                       id_.startswith("_:")):
                        id_ = issuer.get_id(id_)
                    # add the reference BEFORE recursing — a re-embedded
                    # subject's recursion may add more values to THIS
                    # subject's property, and insertion order is
                    # observable in flatten output (ref
                    # lib/nodeMap.js:197-201). The set-semantics insert
                    # (add_value with allow_duplicate=False) is a set
                    # membership test, exact by _ref_ids; a memo set
                    # stays the memo's own object, so inserts made by a
                    # recursion are seen here
                    if refs is None:
                        own = fresh
                        refs = set() if own else \
                            _ref_ids(_memo, subject, prop_out)
                    if id_ not in refs:
                        refs.add(id_)
                        ex = subject.get(prop_out)
                        if ex is None:
                            subject[prop_out] = [{"@id": id_}]
                        elif ex.__class__ is list:
                            ex.append({"@id": id_})
                        else:
                            add_value(subject, prop_out, {"@id": id_},
                                      property_is_array=True)
                    if len(o) == 1 and "@id" in o:
                        # pure subject reference: the recursion's only
                        # effect is registering the target subject (no
                        # properties to walk) — inline it (hot: mention
                        # / link refs dominate transcript node maps)
                        if id_ not in subjects:
                            subjects[id_] = {"@id": id_}
                        continue
                    fresh = False
                    if own:
                        refs = None
                    create_node_map(o, graphs, graph, issuer, id_, None,
                                    _memo)
                    continue
                # value object: the recursion with list_=None only
                # relabels a bnode @type and returns — inlined (value
                # objects are the bulk of create_node_map calls on
                # flat corpora; ~1/3 of node-map CPU)
                t = o.get("@type")
                if t.__class__ is str and t.startswith("_:"):
                    o["@type"] = issuer.get_id(t)
                if "@id" in o:
                    # GIGO value object carrying @id: it participates
                    # in reference equality via the @id fallback, so
                    # keep the ref-memo coherent (add its id only when
                    # the element is genuinely inserted)
                    fresh = False
                    if own:
                        refs = None
                    if not has_value(subject, prop_out, o):
                        _ref_ids(_memo, subject, prop_out).add(o["@id"])
                        add_value(subject, prop_out, o,
                                  property_is_array=True)
                    continue
            # inlined add_value(subject, prop_out, o,
            # property_is_array=True, allow_duplicate=False) of a value
            # object (or GIGO raw scalar): every non-keyword property on
            # a subject is list-valued (all inserts above use
            # property_is_array), so the set-semantics insert is a
            # scan + append — value objects are the bulk of node-map
            # inserts
            ex = subject.get(prop_out)
            if ex is None:
                subject[prop_out] = [o]
            elif isinstance(ex, list):
                for e in ex:
                    if compare_values(o, e):
                        break
                else:
                    ex.append(o)
            else:
                add_value(subject, prop_out, o, property_is_array=True,
                          allow_duplicate=False)


# create_node_map's key categories, in the order of its dispatch
(_K_PROP, _K_ID, _K_REVERSE, _K_GRAPH, _K_INCLUDED, _K_KEYWORD, _K_TYPE,
 _K_BNODE_PROP) = range(8)

# node-shape plans of create_node_map: a node's keys, sorted, each with
# its category. A pure function of the key strings, so the memo is
# keyed by the key tuple alone; capped at MEMO_CAP like util's string
# memos
_NODE_SHAPES: dict = {}


def _node_shape(node: dict) -> tuple:
    key = tuple(node)
    plan = _NODE_SHAPES.get(key)
    if plan is None:
        plan = tuple((p, _key_category(p)) for p in sorted(key))
        if len(_NODE_SHAPES) > MEMO_CAP:
            _NODE_SHAPES.clear()
        _NODE_SHAPES[key] = plan
    return plan


def _key_category(prop: str) -> int:
    if prop == "@id":
        return _K_ID
    if prop == "@reverse":
        return _K_REVERSE
    if prop == "@graph":
        return _K_GRAPH
    if prop == "@included":
        return _K_INCLUDED
    if prop == "@type":
        return _K_TYPE
    if is_keyword(prop):
        return _K_KEYWORD
    # dict keys are always str — startswith IS is_blank_node_id here
    if prop.startswith("_:"):
        return _K_BNODE_PROP
    return _K_PROP


def merge_node_maps(graphs: dict) -> dict:
    """Fold named graphs into the default graph (ref lib/nodeMap.js:262-290).
    Graph names and node ids iterated sorted — determinism contract."""
    default_graph = graphs.get("@default", {})
    for graph_name in sorted(graphs.keys()):
        if graph_name == "@default":
            continue
        node_map = graphs[graph_name]
        subject = default_graph.setdefault(graph_name, {"@id": graph_name})
        graph_entry = subject.setdefault("@graph", [])
        for id_ in sorted(node_map.keys()):
            node = node_map[id_]
            if not is_subject_reference(node):
                graph_entry.append(node)
    return default_graph


def merge_node_map_graphs(graphs: dict) -> dict:
    """Merge all graphs' nodes by id (for @merged framing;
    ref lib/nodeMap.js:233-260)."""
    merged = {}
    for name in sorted(graphs.keys()):
        for id_ in sorted(graphs[name].keys()):
            node = graphs[name][id_]
            merged_node = merged.setdefault(id_, {"@id": id_})
            for property_ in sorted(node.keys()):
                if is_keyword(property_) and property_ != "@type":
                    merged_node[property_] = copy.deepcopy(node[property_])
                else:
                    for value in node[property_] if \
                            isinstance(node[property_], list) \
                            else [node[property_]]:
                        add_value(merged_node, property_,
                                  copy.deepcopy(value),
                                  property_is_array=True,
                                  allow_duplicate=False)
    return merged


def flatten(expanded) -> list:
    """Flattening (ref lib/flatten.js:24-38): merged node map → sorted array
    of nodes that are not bare subject references."""
    default_graph = create_merged_node_map(expanded)
    flattened = []
    for key in sorted(default_graph.keys()):
        node = default_graph[key]
        if not is_subject_reference(node):
            flattened.append(node)
    return flattened


def relabel_blank_nodes(element, issuer: IdentifierIssuer | None = None):
    """Rewrite blank-node labels via the issuer — exact port of
    ref lib/util.js:365-369 + _labelBlankNodes:440-464: list objects
    recurse only into @list; a blank NODE (graphTypes.isBlankNode —
    bnode @id OR no @id at all on a non-value/set/list object) gets its
    @id (re)issued, so anonymous nodes GAIN labels; keys recurse in
    SORTED order (issuer sequence is observable in merge output)."""
    issuer = issuer or IdentifierIssuer("_:b")

    def _is_blank_node(v):
        if not isinstance(v, dict):
            return False
        if "@id" in v:
            return isinstance(v["@id"], str) and v["@id"].startswith("_:")
        return len(v) == 0 or not ("@value" in v or "@set" in v or
                                   "@list" in v)

    def _relabel(el):
        if isinstance(el, list):
            return [_relabel(e) for e in el]
        if isinstance(el, dict) and is_list(el):
            out = dict(el)
            out["@list"] = _relabel(out["@list"])
            return out
        if isinstance(el, dict):
            out = dict(el)
            if _is_blank_node(out):
                out["@id"] = issuer.get_id(out.get("@id"))
            for k in sorted(out.keys()):
                if k != "@id":
                    out[k] = _relabel(out[k])
            return out
        return el

    return _relabel(element)
