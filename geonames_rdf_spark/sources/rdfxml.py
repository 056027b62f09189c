"""Minimal RDF/XML reader (source A8): parse an ontology-sized RDF/XML
document into the 6-column triple layout.

The reference merges the full GeoNames ontology v3.3 RDF/XML
(``output/ontology_v3.3_modified.rdf``, ~690 ``gn:Code`` concepts with
3,251 multilingual ``skos:prefLabel``s) into its final output via rapper
(``docker-compose.yml:32-37``, ``scripts/merge_rdf_files.sh:12-21``).
This module is the Spark-repo equivalent: a driver-side, stdlib-only
(``xml.etree``) parser for the RDF/XML *subset* such vocabulary files
use — typed node elements, ``rdf:about``/``rdf:resource`` (resolved
against ``xml:base``), nested node elements, blank nodes (deterministic
``_:bN`` labels in document order), ``xml:lang`` literals,
``rdf:datatype`` literals, and ``rdf:parseType="Collection"`` lists.
It is NOT a general RDF/XML implementation (no reification, no
``rdf:li``/containers, no ``rdf:parseType="Literal"``) — those constructs
raise rather than mis-parse.

Ontology files are dimension-sized (thousands of triples), so a
driver-side parse into a parquet fixture (``scripts/gen_ontology_fixture.py``)
is the right scale shape; page-scale RDF stays on the N-Triples path
(``sources/ntriples.py``), which is line-splittable and fully
distributed.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XML_NS = "http://www.w3.org/XML/1998/namespace"

_RDF_RDF = f"{{{RDF_NS}}}RDF"
_RDF_ABOUT = f"{{{RDF_NS}}}about"
_RDF_RESOURCE = f"{{{RDF_NS}}}resource"
_RDF_NODEID = f"{{{RDF_NS}}}nodeID"
_RDF_DATATYPE = f"{{{RDF_NS}}}datatype"
_RDF_PARSETYPE = f"{{{RDF_NS}}}parseType"
_XML_LANG = f"{{{XML_NS}}}lang"
_XML_BASE = f"{{{XML_NS}}}base"

RDF_TYPE = RDF_NS + "type"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"

def _expand(tag: str) -> str:
    """ElementTree '{ns}local' -> 'nslocal' (RDF predicate/type IRI)."""
    if tag.startswith("{"):
        ns, local = tag[1:].split("}", 1)
        return ns + local
    return tag


def _resolve(ref: str, base: str) -> str:
    """Resolve rdf:about / rdf:resource against xml:base.

    Vocabulary files use absolute IRIs or '#local' / '' fragment-relative
    forms; full RFC 3986 relative resolution is out of scope and raises.
    """
    if ref.startswith("#"):
        return base + ref
    if ref == "":
        return base
    if "://" in ref or ref.startswith("urn:"):
        return ref
    raise ValueError(f"rdfxml: unsupported relative reference {ref!r}"
                     f" (only absolute IRIs and #fragments are handled)")


class _Parser:
    def __init__(self, base: str):
        self.base = base
        self.triples: list[tuple] = []
        self._blank_n = 0

    def _bnode(self) -> str:
        label = f"_:b{self._blank_n}"
        self._blank_n += 1
        return label

    def _emit_iri(self, s: str, p: str, o: str) -> None:
        self.triples.append((s, p, o, True, None, None))

    def _emit_lit(self, s: str, p: str, o: str, lang: str | None,
                  dt: str | None) -> None:
        self.triples.append((s, p, o, False, lang, dt))

    def node(self, el: ET.Element) -> str:
        """Parse a node element; return its subject term (IRI or _:bN)."""
        about = el.get(_RDF_ABOUT)
        node_id = el.get(_RDF_NODEID)
        if about is not None:
            subj = _resolve(about, self.base)
        elif node_id is not None:
            subj = f"_:{node_id}"
        else:
            subj = self._bnode()
        type_iri = _expand(el.tag)
        if type_iri != RDF_NS + "Description":
            self._emit_iri(subj, RDF_TYPE, type_iri)
        # RDF/XML property ATTRIBUTES (e.g. the ontology's
        # skos:notation="A.ADM1"): every non-rdf:/xml: attribute on a node
        # element is a plain-literal property with the in-scope xml:lang
        node_lang = el.get(_XML_LANG)
        for attr, value in el.attrib.items():
            full = _expand(attr)
            if full.startswith(RDF_NS) or full.startswith(XML_NS) or ":" not in full:
                continue
            self._emit_lit(subj, full, value, node_lang, None)
        for prop in el:
            self.property(subj, prop)
        return subj

    def property(self, subj: str, prop: ET.Element) -> None:
        pred = _expand(prop.tag)
        resource = prop.get(_RDF_RESOURCE)
        node_id = prop.get(_RDF_NODEID)
        parse_type = prop.get(_RDF_PARSETYPE)
        children = list(prop)
        if parse_type == "Collection":
            self._collection(subj, pred, children)
            return
        if parse_type is not None:
            raise ValueError(f"rdfxml: unsupported rdf:parseType={parse_type!r}")
        if resource is not None:
            self._emit_iri(subj, pred, _resolve(resource, self.base))
            return
        if node_id is not None:
            self._emit_iri(subj, pred, f"_:{node_id}")
            return
        if children:
            if len(children) != 1:
                raise ValueError(
                    f"rdfxml: property {pred} has {len(children)} child"
                    " node elements (expected 1)")
            self._emit_iri(subj, pred, self.node(children[0]))
            return
        # literal property: preserve text content EXACTLY (rapper keeps
        # whitespace/newlines; multiline rdfs:comments depend on it)
        text = prop.text if prop.text is not None else ""
        self._emit_lit(subj, pred, text, prop.get(_XML_LANG),
                       prop.get(_RDF_DATATYPE))

    def _collection(self, subj: str, pred: str, items: list[ET.Element]) -> None:
        """rdf:parseType='Collection' -> rdf:first/rdf:rest list."""
        if not items:
            self._emit_iri(subj, pred, RDF_NIL)
            return
        head = self._bnode()
        self._emit_iri(subj, pred, head)
        cur = head
        for i, item in enumerate(items):
            self._emit_iri(cur, RDF_FIRST, self.node(item))
            if i + 1 < len(items):
                nxt = self._bnode()
                self._emit_iri(cur, RDF_REST, nxt)
                cur = nxt
            else:
                self._emit_iri(cur, RDF_REST, RDF_NIL)


def parse_rdfxml(text: str) -> list[tuple]:
    """RDF/XML document -> list of 6-tuples
    (subj, pred, obj, obj_is_iri, obj_lang, obj_dt), references resolved
    against the root's ``xml:base`` (none: ``""``).

    Blank nodes get deterministic ``_:b0, _:b1, ...`` labels in document
    order, so repeated parses (and the DuckDB oracle fixture) agree
    byte-for-byte.
    """
    root = ET.fromstring(text)
    if root.tag != _RDF_RDF:
        raise ValueError(f"rdfxml: expected rdf:RDF root, got {root.tag}")
    p = _Parser(root.get(_XML_BASE, ""))
    for el in root:
        p.node(el)
    return p.triples


def read_rdfxml_file(path: str) -> list[tuple]:
    with open(path, encoding="utf-8") as f:
        return parse_rdfxml(f.read())
