"""Seeded input generator and expected-output manifest for the KG benchmark.

Pure Python: it shares no code with the package under test. Every
generated file carries the statements it was serialized from, in the
order the document lists them, so the expected outputs below are
computed from what was emitted, not from what the program parsed.

A statement is a tuple (subject, predicate, object, is_literal, datatype);
datatype is None for IRI objects.

The model mirrors the pipeline's documented semantics:
- sameAs linking: union-find over owl:sameAs edges, the representative
  is the lexicographically smallest IRI, sameAs statements are dropped;
- nodes: subjects plus IRI objects of non-rdf:type statements;
- labels: the set of rdf:type objects per node;
- node properties: one per (node, predicate), last statement wins in the
  order (repo|path|commit|stmt_idx zero-padded to 10);
- edges: distinct (src, predicate, dst) over IRI-object statements;
- N-Triples export: one line per label, property and edge.
"""

from __future__ import annotations

import hashlib
import json
import random
import re
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"
XSD = "http://www.w3.org/2001/XMLSchema#"
XSD_STRING = XSD + "string"
XSD_INTEGER = XSD + "integer"

CORE = "http://vocab.kgbench.org/core#"
EXT = "http://vocab.kgbench.org/ext{}#"
ENT = "http://data.kgbench.org/entity/"
ALIAS = "http://alias.kgbench.org/entity/"
MENTION = "http://mention.kgbench.org/m/"
HUB = "http://hub.kgbench.org/h/"
DOC = "http://docs.kgbench.org/d/"

PERSON, ORG, PLACE, WORK = (CORE + c for c in ("Person", "Org", "Place", "Work"))
NAME, AGE, ALT_NAME = CORE + "name", CORE + "age", CORE + "altName"
WORKS_FOR, KNOWS, LOCATED_IN, CITES = (
    CORE + p for p in ("worksFor", "knows", "locatedIn", "cites")
)
MENTION_CLS, TEXT, IN_DOC = CORE + "Mention", CORE + "text", CORE + "inDoc"

ORG_NAME_MAX = 24
SHAPES_TTL = f"""@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix c: <{CORE}> .
@prefix xsd: <{XSD}> .
c:PersonShape a sh:NodeShape ; sh:targetClass c:Person ;
  sh:property [ sh:path c:name ; sh:minCount 1 ] ;
  sh:property [ sh:path c:age ; sh:datatype xsd:integer ] ;
  sh:property [ sh:path c:worksFor ; sh:class c:Org ] .
c:OrgShape a sh:NodeShape ; sh:targetClass c:Org ;
  sh:property [ sh:path c:name ; sh:maxLength {ORG_NAME_MAX} ] .
"""

Stmt = Tuple[str, str, str, bool, Optional[str]]
_NS_RE = re.compile(r"^(.*[#/])([^#/]*)$")


@dataclass
class SrcFile:
    repo: str
    path: str
    commit: str
    fmt: str
    content: str
    stmts: List[Stmt] = field(default_factory=list)
    malformed: bool = False

    def row(self) -> dict:
        return {
            "repo": self.repo,
            "path": self.path,
            "commit": self.commit,
            "lang": self.fmt,
            "content": self.content,
        }

    def order_prefix(self) -> str:
        return f"{self.repo}|{self.path}|{self.commit}|"


# ------------------------------------------------------------ serializers
def _esc(s: str) -> str:
    return (
        s.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")
        .replace("\r", "\\r").replace("\t", "\\t")
    )


def _nt_obj(o: str, is_lit: bool, dt: Optional[str]) -> str:
    if not is_lit:
        return f"<{o}>"
    if dt in (None, XSD_STRING):
        return f'"{_esc(o)}"'
    return f'"{_esc(o)}"^^<{dt}>'


def to_ntriples(stmts: Sequence[Stmt]) -> str:
    return "".join(f"<{s}> <{p}> {_nt_obj(o, lit, dt)} .\n" for s, p, o, lit, dt in stmts)


def _group_by_subject(stmts: Sequence[Stmt]) -> List[Tuple[str, List[Stmt]]]:
    out: Dict[str, List[Stmt]] = {}
    for st in stmts:
        out.setdefault(st[0], []).append(st)
    return list(out.items())


def _qname(iri: str, prefixes: Dict[str, str]) -> str:
    ns, local = _NS_RE.match(iri).groups()
    return f"{prefixes[ns]}:{local}" if ns in prefixes else f"<{iri}>"


def to_turtle(stmts: Sequence[Stmt]) -> str:
    """Subject blocks with `;` — statements must already be grouped by
    subject so document order equals the statement list order."""
    namespaces = sorted(
        {_NS_RE.match(p).group(1) for _, p, _, _, _ in stmts if p != RDF_TYPE}
        | {_NS_RE.match(o).group(1) for _, p, o, lit, _ in stmts if p == RDF_TYPE}
    )
    prefixes = {ns: f"p{i}" for i, ns in enumerate(namespaces)}
    prefixes[XSD] = "xsd"
    lines = [f"@prefix {pf}: <{ns}> ." for ns, pf in sorted(prefixes.items(), key=lambda kv: kv[1])]
    for s, group in _group_by_subject(stmts):
        parts = []
        for _, p, o, lit, dt in group:
            pred = "a" if p == RDF_TYPE else _qname(p, prefixes)
            if lit:
                obj = f'"{_esc(o)}"' if dt == XSD_STRING else f'"{_esc(o)}"^^{_qname(dt, prefixes)}'
            elif p == RDF_TYPE:
                obj = _qname(o, prefixes)
            else:
                obj = f"<{o}>"
            parts.append(f"{pred} {obj}")
        lines.append(f"<{s}> " + " ;\n    ".join(parts) + " .")
    return "\n".join(lines) + "\n"


def to_jsonld(stmts: Sequence[Stmt]) -> str:
    graph = []
    for s, group in _group_by_subject(stmts):
        node: dict = {"@id": s}
        for _, p, o, lit, dt in group:
            if p == RDF_TYPE:
                node.setdefault("@type", []).append(o)
                continue
            if lit:
                val = o if dt == XSD_STRING else {"@value": o, "@type": dt}
            else:
                val = {"@id": o}
            node.setdefault(p, []).append(val)
        graph.append(node)
    return json.dumps({"@graph": graph}, indent=1)


def to_rdfxml(stmts: Sequence[Stmt]) -> str:
    rdf_ns = namespace_of(RDF_TYPE)
    namespaces = sorted({namespace_of(p) for _, p, _, _, _ in stmts} - {rdf_ns})
    pf = {ns: f"n{i}" for i, ns in enumerate(namespaces)}
    decl = " ".join(f'xmlns:{v}="{k}"' for k, v in sorted(pf.items(), key=lambda kv: kv[1]))
    out = [
        '<?xml version="1.0" encoding="utf-8"?>',
        f'<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" {decl}>',
    ]
    xml_esc = lambda v: v.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace('"', "&quot;")  # noqa: E731
    for s, group in _group_by_subject(stmts):
        out.append(f'  <rdf:Description rdf:about="{xml_esc(s)}">')
        for _, p, o, lit, dt in group:
            ns, local = _NS_RE.match(p).groups()
            tag = "rdf:type" if p == RDF_TYPE else f"{pf[ns]}:{local}"
            if not lit:
                out.append(f'    <{tag} rdf:resource="{xml_esc(o)}"/>')
            elif dt == XSD_STRING:
                out.append(f"    <{tag}>{xml_esc(o)}</{tag}>")
            else:
                out.append(f'    <{tag} rdf:datatype="{dt}">{xml_esc(o)}</{tag}>')
        out.append("  </rdf:Description>")
    out.append("</rdf:RDF>")
    return "\n".join(out) + "\n"


SERIALIZERS = {
    "Turtle": (to_turtle, ".ttl"),
    "N-Triples": (to_ntriples, ".nt"),
    "JSON-LD": (to_jsonld, ".jsonld"),
    "RDF/XML": (to_rdfxml, ".rdf"),
}

# each is rejected by its format's parser as a whole document
MALFORMED = {
    "Turtle": '@prefix c: <{ns}> .\n<{ent}broken{i}> a c:Person ;\n    c:name "unterminated .\n',
    "JSON-LD": '{{"@graph": [{{"@id": "{ent}broken{i}", "{ns}name": \n',
}


def make_file(repo: str, path: str, fmt: str, stmts: List[Stmt], rng: random.Random) -> SrcFile:
    ser, ext = SERIALIZERS[fmt]
    commit = "%040x" % rng.getrandbits(160)
    return SrcFile(repo, path + ext, commit, fmt, ser(stmts), list(stmts))


def make_malformed(repo: str, path: str, fmt: str, i: int, rng: random.Random) -> SrcFile:
    ext = SERIALIZERS[fmt][1]
    commit = "%040x" % rng.getrandbits(160)
    content = MALFORMED[fmt].format(ns=CORE, ent=ENT, i=i)
    return SrcFile(repo, path + ext, commit, fmt, content, [], malformed=True)


# ------------------------------------------------------------ entities
_WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi "
    "omicron pi rho sigma tau upsilon phi chi psi omega"
).split()


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


class _Entities:
    """Typed entities for the Turtle-heavy corpora (full_import and
    incremental_ingest): each gets a class, literals and links."""

    CLASSES = (PERSON, ORG, PLACE, WORK)

    def __init__(self, rng: random.Random, n_ext: int = 8, preds_per_ext: int = 4):
        self.rng = rng
        self.ext_preds = [EXT.format(k) + f"p{j}" for k in range(n_ext) for j in range(preds_per_ext)]
        self.by_class: Dict[str, List[str]] = defaultdict(list)
        self.n = 0

    def new(self) -> Tuple[str, str]:
        cls = self.rng.choice(self.CLASSES)
        iri = f"{ENT}{self.n:07d}x{self.rng.getrandbits(20):05x}"
        self.n += 1
        self.by_class[cls].append(iri)
        return iri, cls

    def pick(self, cls: str) -> Optional[str]:
        pool = self.by_class.get(cls)
        return self.rng.choice(pool) if pool else None

    def statements(self, iri: str, cls: str, plant: Dict[str, int]) -> List[Stmt]:
        """One entity's statements; `plant` counts planted SHACL
        violations per kind (decremented as they are placed)."""
        rng = self.rng
        out: List[Stmt] = [(iri, RDF_TYPE, cls, False, None)]
        if cls == PERSON and plant.get("no_name", 0) > 0 and rng.random() < 0.5:
            plant["no_name"] -= 1
        elif cls == ORG and plant.get("long_name", 0) > 0 and rng.random() < 0.5:
            plant["long_name"] -= 1
            out.append((iri, NAME, "Org " + _words(rng, 6), True, XSD_STRING))
        else:
            out.append((iri, NAME, f"{cls[len(CORE):]} {_words(rng, 2)}", True, XSD_STRING))
        if cls == PERSON:
            if plant.get("bad_age", 0) > 0 and rng.random() < 0.5:
                plant["bad_age"] -= 1
                out.append((iri, AGE, "unknown", True, XSD_STRING))
            else:
                out.append((iri, AGE, str(rng.randint(18, 90)), True, XSD_INTEGER))
        for p in rng.sample(self.ext_preds, rng.randint(2, 4)):
            if rng.random() < 0.3:
                out.append((iri, p, str(rng.randint(0, 10**6)), True, XSD_INTEGER))
            else:
                out.append((iri, p, _words(rng, 3), True, XSD_STRING))
        links = {
            PERSON: ((WORKS_FOR, ORG), (KNOWS, PERSON)),
            ORG: ((LOCATED_IN, PLACE),),
            PLACE: ((LOCATED_IN, PLACE),),
            WORK: ((CITES, WORK),),
        }[cls]
        for pred, target_cls in links:
            if pred == WORKS_FOR and plant.get("wrong_class", 0) > 0 and rng.random() < 0.5:
                target_cls = PLACE
                plant["wrong_class"] -= 1
            for _ in range(rng.randint(1, 2)):
                dst = self.pick(target_cls)
                if dst is not None and dst != iri:
                    out.append((iri, pred, dst, False, None))
        # dedupe identical link statements (a file never repeats a triple)
        seen, uniq = set(), []
        for st in out:
            if st not in seen:
                seen.add(st)
                uniq.append(st)
        return uniq


def _plant_budget(n_entities: int) -> Dict[str, int]:
    k = max(2, n_entities // 200)
    return {"no_name": k, "bad_age": k, "wrong_class": k, "long_name": k}


# ------------------------------------------------------------ corpora
@dataclass
class Corpus:
    files: List[SrcFile]
    meta: dict = field(default_factory=dict)


def full_import_corpus(seed: int, n_files: int = 120, ents_per_file: int = 30) -> Corpus:
    """Turtle-heavy corpus with N-Triples, JSON-LD and RDF/XML files, a
    known number of malformed files, and owl:sameAs links on about 1/8 of
    the entities (pairs and three-file chains, across files)."""
    rng = random.Random(seed)
    ents = _Entities(rng)
    plant = _plant_budget(n_files * ents_per_file)
    fmts = ["Turtle"] * 14 + ["N-Triples"] * 2 + ["JSON-LD", "RDF/XML"]
    per_file: List[Tuple[str, List[Stmt]]] = []
    for i in range(n_files):
        fmt = rng.choice(fmts)
        stmts: List[Stmt] = []
        for _ in range(ents_per_file):
            iri, cls = ents.new()
            stmts.extend(ents.statements(iri, cls, plant))
        per_file.append((fmt, stmts))
    # sameAs: ~1/8 of the entities in Turtle/N-Triples files link to an
    # alias described in another such file; a quarter of those chain on
    # to a second alias in a third file
    linkable = [i for i, (fmt, _) in enumerate(per_file) if fmt in ("Turtle", "N-Triples")]
    n_alias = 0
    for i in linkable:
        stmts = per_file[i][1]
        typed = [(s, o) for s, p, o, _, _ in stmts if p == RDF_TYPE and s.startswith(ENT)]
        for s, cls in typed:
            if rng.random() >= 1 / 8:
                continue
            holder, subject = i, s
            for _ in range(2 if rng.random() < 0.25 else 1):
                alias = f"{ALIAS}{n_alias:07d}x{rng.getrandbits(20):05x}"
                n_alias += 1
                host = rng.choice(linkable)
                while host == i and len(linkable) > 1:
                    host = rng.choice(linkable)
                per_file[host][1].extend(
                    [
                        (alias, RDF_TYPE, cls, False, None),
                        (alias, ALT_NAME, _words(rng, 2), True, XSD_STRING),
                    ]
                )
                # the link sits in the file that describes its subject
                per_file[holder][1].append((subject, OWL_SAMEAS, alias, False, None))
                holder, subject = host, alias
    files = []
    for i, (fmt, stmts) in enumerate(per_file):
        stmts = [st for _, grp in _group_by_subject(stmts) for st in grp]
        files.append(make_file(f"org{i % 7}/kg-{i % 13}", f"data/f{i:05d}", fmt, stmts, rng))
    n_bad = max(2, n_files // 60)
    for j in range(n_bad):
        fmt = "Turtle" if j % 2 == 0 else "JSON-LD"
        files.append(make_malformed(f"org{j % 7}/kg-bad", f"bad/b{j:04d}", fmt, j, rng))
    rng.shuffle(files)
    return Corpus(files)


def entity_linking_corpus(
    seed: int,
    n_clusters: int = 120,
    mentions_per_cluster: Tuple[int, int] = (100, 300),
    n_hubs: int = 3,
    hub_fanout: int = 400,
    mentions_per_file: int = 250,
) -> Corpus:
    """N-Triples mention corpus: every cluster is a long owl:sameAs chain
    through its mentions in random order (so chains cross files), plus a
    few hub IRIs each linked from `hub_fanout` mentions (star clusters).
    Each mention has one literal and one document link."""
    rng = random.Random(seed)
    mention_stmts: List[List[Stmt]] = []
    links: List[Stmt] = []
    n_docs = 500

    def mention() -> str:
        m = f"{MENTION}{rng.getrandbits(48):012x}"
        d = f"{DOC}{rng.randrange(n_docs):04d}"
        mention_stmts.append(
            [
                (m, RDF_TYPE, MENTION_CLS, False, None),
                (m, TEXT, _words(rng, 2), True, XSD_STRING),
                (m, IN_DOC, d, False, None),
            ]
        )
        return m

    for _ in range(n_clusters):
        ms = [mention() for _ in range(rng.randint(*mentions_per_cluster))]
        links.extend((a, OWL_SAMEAS, b, False, None) for a, b in zip(ms, ms[1:]))
    for h in range(n_hubs):
        hub = f"{HUB}{h:03d}"
        for _ in range(hub_fanout):
            links.append((mention(), OWL_SAMEAS, hub, False, None))
    rng.shuffle(mention_stmts)
    rng.shuffle(links)
    n_files = max(1, len(mention_stmts) // mentions_per_file)
    buckets: List[List[Stmt]] = [[] for _ in range(n_files)]
    for i, ms in enumerate(mention_stmts):
        buckets[i % n_files].extend(ms)
    for i, st in enumerate(links):
        buckets[rng.randrange(n_files)].append(st)
    files = [
        make_file(f"corpus/m{i % 5}", f"mentions/part{i:05d}", "N-Triples", b, rng)
        for i, b in enumerate(buckets)
    ]
    return Corpus(files)


def incremental_corpus(
    seed: int, n_base: int = 24, batch_files: int = 4, n_batches: int = 40,
    ents_per_file: int = 12,
) -> Corpus:
    """Turtle files: `n_base` for the base snapshot, then `n_batches`
    groups of `batch_files` new files each. New entities link to earlier
    ones, so a batch touches nodes already in the graph. No sameAs (the
    incremental store runs without entity linking)."""
    rng = random.Random(seed)
    ents = _Entities(rng)
    files = []
    total = n_base + batch_files * n_batches
    plant = _plant_budget(total * ents_per_file)
    for i in range(total):
        stmts: List[Stmt] = []
        for _ in range(ents_per_file):
            iri, cls = ents.new()
            stmts.extend(ents.statements(iri, cls, plant))
        files.append(make_file(f"org{i % 5}/kg", f"data/f{i:05d}", "Turtle", stmts, rng))
    return Corpus(files, {"n_base": n_base, "batch_files": batch_files, "n_batches": n_batches})


# ------------------------------------------------------------ expected outputs
def namespace_of(iri: str) -> str:
    m = _NS_RE.match(iri)
    return m.group(1) if m else ""


def _line_hash(line: str) -> int:
    return int(hashlib.sha256(line.encode("utf-8")).hexdigest()[:15], 16)


def set_hash(lines: Iterable[str]) -> int:
    """Order-independent hash of a line multiset: the sum of each line's
    60-bit sha256 prefix (the benchmark computes the same sum in Spark)."""
    return sum(_line_hash(x) for x in lines)


class Graph:
    """The materialized graph, built by adding files in ingest order."""

    def __init__(self, link_map: Optional[Dict[str, str]] = None):
        self.comp = link_map or {}
        self.labels: Dict[str, set] = defaultdict(set)
        # (uri, predicate) -> (order key, value, datatype); the last wins
        self.props: Dict[Tuple[str, str], Tuple[str, str, Optional[str]]] = {}
        self.out: Dict[Tuple[str, str], set] = defaultdict(set)
        self.nodes: set = set()

    def add(self, f: SrcFile) -> None:
        c = self.comp.get
        pre = f.order_prefix()
        for i, (s, p, o, lit, dt) in enumerate(f.stmts):
            if self.comp and p == OWL_SAMEAS and not lit:
                continue
            s = c(s, s)
            self.nodes.add(s)
            if lit:
                key = pre + f"{i:010d}"
                cur = self.props.get((s, p))
                if cur is None or key > cur[0]:
                    self.props[(s, p)] = (key, o, dt)
            elif p == RDF_TYPE:
                self.labels[s].add(o)
            else:
                o = c(o, o)
                self.nodes.add(o)
                self.out[(s, p)].add(o)

    def counts(self) -> dict:
        return {
            "nodes": len(self.nodes),
            "edges": sum(len(v) for v in self.out.values()),
            "node_props": len(self.props),
        }

    def export_lines(self) -> List[str]:
        """N-Triples lines the export writes (no named graphs, no bnodes)."""
        out = [f"<{u}> <{RDF_TYPE}> <{lab}> ." for u, labs in self.labels.items() for lab in labs]
        for (u, p), (_, v, dt) in self.props.items():
            out.append(f"<{u}> <{p}> {_nt_obj(v, True, None if dt == RDF_LANGSTRING else dt)} .")
        out.extend(f"<{s}> <{p}> <{o}> ." for (s, p), objs in self.out.items() for o in objs)
        return out

    def violations(self, focus: Optional[Iterable[str]] = None) -> int:
        """Result rows SHAPES_TTL produces over the graph, or over the
        `focus` nodes only (delta validation)."""
        n = 0
        for u in self.labels if focus is None else focus:
            labs = self.labels.get(u, ())
            if PERSON in labs:
                if (u, NAME) not in self.props and not self.out.get((u, NAME)):
                    n += 1
                age = self.props.get((u, AGE))
                if age is not None and not re.fullmatch(r"\s*[+-]?\d+\s*", age[1]):
                    n += 1
                n += sum(
                    1 for o in self.out.get((u, WORKS_FOR), ())
                    if ORG not in self.labels.get(o, ())
                )
            if ORG in labs:
                name = self.props.get((u, NAME))
                if name is not None and len(name[1]) > ORG_NAME_MAX:
                    n += 1
        return n


def components(stmts: Iterable[Stmt]) -> Dict[str, str]:
    """uri -> min-IRI representative for every uri on an owl:sameAs edge."""
    parent: Dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, p, o, lit, _ in stmts:
        if p != OWL_SAMEAS or lit:
            continue
        for x in (s, o):
            parent.setdefault(x, x)
        ra, rb = find(s), find(o)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {u: find(u) for u in parent}


def touched(files: Sequence[SrcFile]) -> set:
    """Subjects and IRI objects of the files' statements."""
    return {s for f in files for s, _, _, _, _ in f.stmts} | {
        o for f in files for _, p, o, lit, _ in f.stmts if not lit
    }


def namespaces(files: Sequence[SrcFile]) -> set:
    ns = set()
    for f in files:
        for _, p, o, lit, dt in f.stmts:
            ns.add(namespace_of(p))
            if lit and dt:
                ns.add(namespace_of(dt))
            if p == RDF_TYPE and not lit:
                ns.add(namespace_of(o))
    ns.discard("")
    return ns


def manifest(workload: str, corpus: Corpus) -> dict:
    files = corpus.files
    good = [f for f in files if not f.malformed]
    out = {
        "files": len(files),
        "triples": sum(len(f.stmts) for f in files),
        "quarantined": sum(f.malformed for f in files),
    }
    if workload == "incremental_ingest":
        # one entry per batch (the base snapshot first): what the batch
        # ingests and the graph counts after it is merged
        m = corpus.meta
        n_base, k = m["n_base"], m["batch_files"]
        batches = [good[:n_base]] + [
            good[n_base + i * k: n_base + (i + 1) * k] for i in range(m["n_batches"])
        ]
        g, seen, ns, per_batch = Graph(), 0, set(), []
        for b in batches:
            for f in b:
                g.add(f)
            seen += len(b)
            ns |= namespaces(b)
            per_batch.append(
                {
                    "new_files": len(b),
                    "skipped_files": seen - len(b),
                    "triples": sum(len(f.stmts) for f in b),
                    "namespace_list": sorted(ns),
                    "violations": g.violations(touched(b)),
                    **g.counts(),
                }
            )
        out["batches"] = per_batch
        return out
    comp = components(st for f in good for st in f.stmts)
    g = Graph(comp)
    for f in good:
        g.add(f)
    reps = sorted(set(comp.values()))
    out.update(g.counts())
    out.update(
        {
            "sameas_edges": len(
                {(s, o) for f in good for s, p, o, lit, _ in f.stmts if p == OWL_SAMEAS and not lit}
            ),
            "components": len(reps),
            "linked_uris": len(comp),
            "reps_hash": set_hash(reps),
            "namespaces": len(namespaces(good)),
            "namespace_list": sorted(namespaces(good)),
        }
    )
    if workload == "full_import":
        lines = g.export_lines()
        out.update(
            {
                "violations": g.violations(),
                "export_lines": len(lines),
                "export_hash": set_hash(lines),
            }
        )
    return out


CORPORA = {
    "full_import": full_import_corpus,
    "entity_linking": entity_linking_corpus,
    "incremental_ingest": incremental_corpus,
}
