"""Independent computation of the quads KG construction must emit.

Written from the emission rules, not from the program's code: IRIs are
minted with ``hashlib``, mentions come from a line-by-line reading of the
extraction grammar, entity linking is a dictionary lookup, and ``owl:sameAs``
canonicalization is a union-find written here. Nothing in this module
imports ``ontograph_spark``.

Rules (graph ``https://ontograph.dev/code``, ``mint(kind, key)`` is
``<ns#kind-`` + the first 32 hex digits of ``sha256(key)`` + ``>``):

* file ``f = mint(file, repo|path)``: ``a owl:NamedIndividual``, ``a c:File``,
  ``c:inRepo mint(repo, repo)``, and ``c:path``/``c:lang``/``c:commitId``/
  ``c:checksum`` as ``xsd:string`` literals (checksum = sha256 of content);
* repository: ``a owl:NamedIndividual``, ``a c:Repository``, plain label;
* declaration ``d = mint(decl, repo|path|kind|name)``: named individual of
  class Function/Type/Class, plain label, and ``f c:declares d``;
* cross-repo reference: ``f c:refersToRepo mint(repo, name)``;
* import: ``f c:imports mint(module, name)``; every imported name and every
  canonical target is a module entity (named individual, ``c:Module``,
  label); a name linked to a different canonical with score >= 0.5 adds
  ``mint(module, name) owl:sameAs mint(module, canonical)``;
* canonicalization: module terms in the import and module quads are
  rewritten to their component representative (the smallest member that
  is a sameAs target, else the smallest member);
* the ontology schema (``SCHEMA`` below).
"""

from __future__ import annotations

import hashlib
import re

NS = "https://ontograph.dev/code"
OWL = "http://www.w3.org/2002/07/owl#"
RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
RDFS_LABEL = "<http://www.w3.org/2000/01/rdf-schema#label>"
RDFS_DOMAIN = "<http://www.w3.org/2000/01/rdf-schema#domain>"
RDFS_RANGE = "<http://www.w3.org/2000/01/rdf-schema#range>"
XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
NAMED = f"<{OWL}NamedIndividual>"
SAME_AS = f"<{OWL}sameAs>"


def c(local: str) -> str:
    return f"<{NS}#{local}>"


def mint(kind: str, key: str) -> str:
    return f"<{NS}#{kind}-{hashlib.sha256(key.encode()).hexdigest()[:32]}>"


def xsd_str(v: str) -> str:
    return f'"{v}"^^<{XSD_STRING}>'


def plain(v: str) -> str:
    return f'"{v}"'


#: module dictionary: surface term -> (canonical, score)
_CANONICAL = [
    "corelib", "datakit", "netio", "mathx", "strfmt",
    "logfwd", "cfgldr", "tasker", "storeng", "webfrm",
]
_ALIAS = {
    "core-lib": "corelib",
    "data_kit": "datakit",
    "net.io": "netio",
    "math-x": "mathx",
    "str_fmt": "strfmt",
}
DICTIONARY = {**{m: (m, 1.0) for m in _CANONICAL}, **{a: (m, 0.9) for a, m in _ALIAS.items()}}


def _norm(name: str) -> str:
    return re.sub(r"[-._]", "", name).lower()


_NORMALIZED = {_norm(t): canon for t, (canon, _s) in DICTIONARY.items()}


def link(name: str) -> tuple[str, float]:
    if name in DICTIONARY:
        return DICTIONARY[name]
    if _norm(name) in _NORMALIZED:
        return _NORMALIZED[_norm(name)], 0.75
    return name, 0.0


#: extraction grammar, one rule per source line: (kind, full-line regex)
LINE_RULES = {
    "python": [
        ("import", re.compile(r"import ([\w.\-]+)\s*")),
        ("import", re.compile(r"from ([\w.\-]+) import \w+\s*")),
        ("class", re.compile(r"class (\w+):.*")),
        ("func", re.compile(r"def (\w+)\(.*")),
        ("repo_ref", re.compile(r"# see repo:([\w\-]+)\s*")),
    ],
    "go": [
        ("import", re.compile(r"\s+\"([\w.\-]+)\"\s*")),
        ("type", re.compile(r"type (\w+) struct.*")),
        ("func", re.compile(r"func (\w+)\(.*")),
        ("repo_ref", re.compile(r"// see repo:([\w\-]+)\s*")),
    ],
}

DECL_CLASS = {"func": "Function", "type": "Type", "class": "Class"}


def mentions(lang: str, content: str) -> set[tuple[str, str]]:
    out = set()
    for line in content.split("\n"):
        for kind, rx in LINE_RULES.get(lang, []):
            m = rx.fullmatch(line)
            if m:
                out.add((kind, m.group(1)))
    return out


def _schema() -> list[tuple[str, str, str]]:
    owl = lambda local: f"<{OWL}{local}>"  # noqa: E731
    t = []
    for local, label in [
        ("File", "Source file"), ("Repository", "Repository"), ("Module", "Module"),
        ("Function", "Function"), ("Type", "Type"), ("Class", "Class"),
    ]:
        t += [(c(local), RDF_TYPE, owl("Class")), (c(local), RDFS_LABEL, plain(label))]
    for prop, dom, rng, functional in [
        ("inRepo", "File", "Repository", True),
        ("imports", "File", "Module", False),
        ("declares", "File", None, False),
        ("refersToRepo", "File", "Repository", False),
    ]:
        t.append((c(prop), RDF_TYPE, owl("ObjectProperty")))
        t.append((c(prop), RDFS_DOMAIN, c(dom)))
        if rng:
            t.append((c(prop), RDFS_RANGE, c(rng)))
        if functional:
            t.append((c(prop), RDF_TYPE, owl("FunctionalProperty")))
    for prop in ("path", "lang", "commitId", "checksum"):
        t += [
            (c(prop), RDF_TYPE, owl("DatatypeProperty")),
            (c(prop), RDF_TYPE, owl("FunctionalProperty")),
        ]
    t.append((f"<{NS}>", RDF_TYPE, owl("Ontology")))
    return t


SCHEMA = _schema()


def _representatives(edges: set[tuple[str, str]]) -> dict[str, str]:
    parent: dict[str, str] = {}

    def root(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    targets = {b for _a, b in edges}
    groups: dict[str, list[str]] = {}
    for x in list(parent):
        groups.setdefault(root(x), []).append(x)
    rep = {}
    for members in groups.values():
        tgt = [m for m in members if m in targets]
        r = min(tgt) if tgt else min(members)
        for m in members:
            rep[m] = r
    return rep


def file_quads(repo: str, path: str, commit: str, lang: str, content: str) -> set[tuple]:
    """Triples whose subject is this file, before canonicalization of the
    import targets (see :func:`canonical`)."""
    f = mint("file", f"{repo}|{path}")
    out = {
        (f, RDF_TYPE, NAMED),
        (f, RDF_TYPE, c("File")),
        (f, c("inRepo"), mint("repo", repo)),
        (f, c("path"), xsd_str(path)),
        (f, c("lang"), xsd_str(lang)),
        (f, c("commitId"), xsd_str(commit)),
        (f, c("checksum"), xsd_str(hashlib.sha256(content.encode()).hexdigest())),
    }
    for kind, name in mentions(lang, content):
        if kind in DECL_CLASS:
            out.add((f, c("declares"), mint("decl", f"{repo}|{path}|{kind}|{name}")))
        elif kind == "repo_ref":
            out.add((f, c("refersToRepo"), mint("repo", name)))
        else:
            out.add((f, c("imports"), mint("module", name)))
    return out


def canonical(quads: set[tuple]) -> set[tuple]:
    """Rewrite module terms to the representative of their alias component
    under the fixed dictionary."""
    edges = {
        (mint("module", a), mint("module", canon))
        for a, (canon, score) in DICTIONARY.items()
        if score >= 0.5 and a != canon
    }
    rep = _representatives(edges)
    return {(s, p, rep.get(o, o)) if p == c("imports") else (s, p, o) for s, p, o in quads}


def construct(rows) -> set[tuple[str, str, str, str]]:
    """All quads ``construct_kg`` must return for ``rows`` of
    ``(repo, path, commit, lang, content)``, as a set."""
    plain_q: set[tuple] = set()
    module_q: set[tuple] = set()
    names: set[str] = set()
    pairs: set[tuple[str, str]] = set()
    for repo, path, commit, lang, content in rows:
        r = mint("repo", repo)
        plain_q |= {(r, RDF_TYPE, NAMED), (r, RDF_TYPE, c("Repository")), (r, RDFS_LABEL, plain(repo))}
        for q in file_quads(repo, path, commit, lang, content):
            (module_q if q[1] == c("imports") else plain_q).add(q)
        for kind, name in mentions(lang, content):
            if kind in DECL_CLASS:
                d = mint("decl", f"{repo}|{path}|{kind}|{name}")
                plain_q |= {(d, RDF_TYPE, NAMED), (d, RDF_TYPE, c(DECL_CLASS[kind])), (d, RDFS_LABEL, plain(name))}
            elif kind == "import":
                canon, score = link(name)
                names.add(name)
                if score >= 0.5 and name != canon:
                    pairs.add((name, canon))
    names |= {canon for _n, canon in pairs}
    for name in names:
        m = mint("module", name)
        module_q |= {(m, RDF_TYPE, NAMED), (m, RDF_TYPE, c("Module")), (m, RDFS_LABEL, plain(name))}
    edges = {(mint("module", a), mint("module", b)) for a, b in pairs}
    module_q |= {(a, SAME_AS, b) for a, b in edges}
    rep = _representatives(edges)
    module_q = {(rep.get(s, s), p, rep.get(o, o)) for s, p, o in module_q}
    return {(s, p, o, NS) for s, p, o in plain_q | module_q | set(SCHEMA)}
