"""Seeded input generator for the benchmark workloads.

Self-contained on purpose: it imports nothing from ``rdf_spark``, so a
change to the program cannot change the inputs or the expectations,
and it needs no external test suites (malformed documents are
synthesized here).

Every generator returns a :class:`Workload`: the input rows the
program receives, plus what a correct program must write for them —
the bnode-free canonical rows per checkpoint bucket (entity links
applied, ``support`` and ``first_url`` included), the number of
blank-node rows, and the malformed blocks. Expected rows follow the
documented semantics of the pipeline:

- literal lexical forms are kept verbatim by the line formats (N-Triples
  and N-Quads keep ``\\u`` escapes as written);
- a relative IRI resolves against the page url cut after its last
  ``/`` (the reference rule), so ``<#main>`` on every page of one site
  is one IRI;
- Turtle numerals become ``xsd:integer`` / ``xsd:decimal``, ``"x"@en``
  has no datatype, plain strings have neither;
- linking rewrites IRI subjects and IRI objects found in the
  dictionary, never predicates or graphs;
- ``PipelineRun`` buckets pages by ``pmod(xxhash64(url), n_buckets)``
  and dedupes within a bucket only.

Blank-node labels are chosen by the parser and then skolemized, so
rows with a blank node are checked by count. The program scopes blank
nodes per page (skolemization keys on the url), so each page carries
at most one block whose labels the parser invents; other blocks use
page-unique explicit labels or none.
"""

from __future__ import annotations

import bisect
import json
import random
from dataclasses import dataclass, field

SCHEMA = "http://schema.org/"
ENTITY = "http://example.org/entity/"
PERSON = "http://example.org/person/"
KG = "http://kg.example/canonical/"
XSD = "http://www.w3.org/2001/XMLSchema#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDF + "type"
XSD_INTEGER = XSD + "integer"
XSD_DECIMAL = XSD + "decimal"

IRI, LITERAL = 0, 2  # kind codes of the written table

# ---------------------------------------------------------------- hashing
# Spark's xxhash64 (seed 42) over the UTF-8 bytes of a string, i.e. the
# standard XXH64 algorithm; PipelineRun's bucket is pmod(hash, n).

_M64 = (1 << 64) - 1
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def _merge(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """Signed 64-bit XXH64 of ``data``, as Spark's ``xxhash64`` gives it."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = _merge(h, v)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def bucket_of(url: str, n_buckets: int) -> int:
    return xxhash64(url.encode("utf-8")) % n_buckets


# ---------------------------------------------------------------- model


@dataclass
class Workload:
    """Generated inputs and the output a correct program writes."""

    n_buckets: int
    from_html: bool
    # input rows: (url, html bytes) when from_html, else (url, format, text)
    pages: list[tuple]
    dictionary: list[tuple[str, str]]
    # url -> bnode-free triples after linking, one entry per emitted
    # triple: (subj, pred, obj_kind, obj_lex, obj_datatype, obj_lang,
    # graph) with subject and graph always IRIs
    page_triples: dict[str, list[tuple]] = field(default_factory=dict)
    page_bnode_rows: dict[str, int] = field(default_factory=dict)
    page_bad_blocks: dict[str, int] = field(default_factory=dict)
    # person IRIs, when the workload carries the people graph
    people: list[str] = field(default_factory=list)

    def expected_rows(self) -> list[tuple]:
        """Bnode-free rows as PipelineRun writes them: (part, subj_kind,
        subj, pred, obj_kind, obj_lex, obj_datatype, obj_lang,
        graph_kind, graph, support, first_url)."""
        agg: dict[tuple, list] = {}
        for url, triples in self.page_triples.items():
            b = bucket_of(url, self.n_buckets)
            for t in triples:
                key = (b,) + t
                cur = agg.get(key)
                if cur is None:
                    agg[key] = [1, url]
                else:
                    cur[0] += 1
                    if url < cur[1]:
                        cur[1] = url
        out = []
        for (b, s, p, ok, ol, od, olang, g), (support, first) in agg.items():
            out.append((b, IRI, s, p, ok, ol, od, olang,
                        None if g is None else IRI, g, support, first))
        return out

    @property
    def bnode_rows(self) -> int:
        return sum(self.page_bnode_rows.values())

    @property
    def bad_blocks(self) -> int:
        return sum(self.page_bad_blocks.values())


class _Zipf:
    """Deterministic Zipf(s) sampler over [0, n)."""

    def __init__(self, n: int, s: float = 1.1):
        acc, cdf = 0.0, []
        for k in range(1, n + 1):
            acc += 1.0 / k ** s
            cdf.append(acc)
        self.cdf = [c / acc for c in cdf]

    def __call__(self, rng: random.Random) -> int:
        return min(bisect.bisect_left(self.cdf, rng.random()), len(self.cdf) - 1)


def _dictionary(n_entities: int, rng: random.Random) -> list[tuple[str, str]]:
    """Surface -> canonical IRI for a third of the entities, head included;
    pairs of surfaces share a canonical IRI so linking merges entities."""
    out = []
    for i in range(n_entities):
        if i < 50 or rng.random() < 0.3:
            out.append((f"{ENTITY}e{i}", f"{KG}{i // 2}"))
    return out


def _linker(dictionary):
    table = dict(dictionary)
    return lambda iri: table.get(iri, iri)


_WORDS = ("alpha bravo cedar delta ember falcon garnet harbor iris juniper "
          "kestrel lumen maple nectar onyx prairie quartz raven sierra "
          "tundra umber violet willow xenon yarrow zephyr").split()

_PREDS = [RDF_TYPE] + [SCHEMA + p for p in (
    "name", "about", "author", "mentions", "headline", "keywords",
    "sameAs", "datePublished", "position", "rating", "publisher")]
_TYPES = [SCHEMA + t for t in (
    "Thing", "Article", "Person", "Organization", "Product", "Event",
    "Place", "CreativeWork")]


def _phrase(rng: random.Random, k: int = 2) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(k))


class _Objects:
    """Random bnode-free objects: (kind, lex, datatype, lang) plus their
    Turtle and N-Triples spellings."""

    def __init__(self, rng, entities: _Zipf, link):
        self.rng, self.entities, self.link = rng, entities, link

    def entity(self) -> str:
        return f"{ENTITY}e{self.entities(self.rng)}"

    def pick(self, pred: str):
        rng = self.rng
        if pred == RDF_TYPE:
            t = _TYPES[min(int(rng.expovariate(0.7)), len(_TYPES) - 1)]
            return (IRI, t, None, None), f"<{t}>", f"<{t}>"
        r = rng.random()
        if r < 0.4:
            e = self.entity()
            return (IRI, self.link(e), None, None), f"e:{e[len(ENTITY):]}", f"<{e}>"
        if r < 0.6:
            w = _phrase(rng)
            return (LITERAL, w, None, "en"), f'"{w}"@en', f'"{w}"@en'
        if r < 0.8:
            w = _phrase(rng, 3)
            return (LITERAL, w, None, None), f'"{w}"', f'"{w}"'
        if r < 0.9:
            n = str(rng.randrange(-50, 5000))
            return ((LITERAL, n, XSD_INTEGER, None), n,
                    f'"{n}"^^<{XSD_INTEGER}>')
        d = f"{rng.randrange(100)}.{rng.randrange(1, 10)}"
        return (LITERAL, d, XSD_DECIMAL, None), d, f'"{d}"^^<{XSD_DECIMAL}>'


_PRED_RANK = _Zipf(len(_PREDS), 1.0)


# ---------------------------------------------------------------- blocks


def _turtle_block(url, rng, objs: _Objects, link):
    """Zipf-skewed Turtle with predicate-object lists, a relative IRI,
    bnode property lists and collections.
    -> (text, bnode-free triples, bnode row count)."""
    lines = [f"@prefix s: <{SCHEMA}> .", f"@prefix e: <{ENTITY}> ."]
    triples, seen, bnode_rows = [], set(), 0
    for si in range(rng.randint(2, 5)):
        if si == 0 and rng.random() < 0.3:
            # relative IRIs resolve by the reference rule the Turtle
            # kernel documents: the base up to its last '/', then the
            # reference (no RFC 3986 fragment special case)
            subj_iri, subj_tok = url[:url.rfind("/") + 1] + "#main", "<#main>"
        else:
            subj_iri = objs.entity()
            subj_tok = f"e:{subj_iri[len(ENTITY):]}"
        subj = link(subj_iri)
        pos = []
        for _ in range(rng.randint(2, 7)):
            pred = _PREDS[_PRED_RANK(rng)]
            obj, ttl, _nt = objs.pick(pred)
            t = (subj, pred) + obj + (None,)
            if t in seen:
                continue
            seen.add(t)
            triples.append(t)
            pos.append((pred, ttl))
        if rng.random() < 0.35:
            w = _phrase(rng)
            inner = objs.entity()
            pos.append((SCHEMA + "about", f'[ s:name "{w}" ; s:url e:{inner[len(ENTITY):]} ]'))
            bnode_rows += 3
        if rng.random() < 0.2:
            items = [str(rng.randrange(100)), f"e:e{rng.randrange(500)}",
                     f'"{rng.choice(_WORDS)}"'][:rng.randint(1, 3)]
            pos.append((SCHEMA + "itemListElement", "( " + " ".join(items) + " )"))
            bnode_rows += 1 + 2 * len(items)
        if not pos:
            continue
        body = " ;\n    ".join(
            ("a" if p == RDF_TYPE else f"<{p}>") + " " + o for p, o in pos)
        lines.append(f"{subj_tok} {body} .")
    return "\n".join(lines) + "\n", triples, bnode_rows


def _line_block(rng, objs: _Objects, link, quads: bool, n_lines: int,
                label_prefix: str, escapes: float = 0.0):
    """N-Triples / N-Quads lines, with page-unique explicit bnodes and
    (optionally) a share of literals carrying ``\\u`` escapes, kept
    verbatim by the line parsers.
    -> [(line, bnode-free triple, or None for a line with a bnode)]."""
    out, seen = [], set()
    while len(out) < n_lines:
        subj_iri = objs.entity()
        pred = _PREDS[_PRED_RANK(rng)]
        obj, _ttl, nt = objs.pick(pred)
        if escapes and rng.random() < escapes:
            lex = f"{rng.choice(_WORDS)}\\u00E9{rng.randrange(1000)}\\u4E2D"
            obj, nt = (LITERAL, lex, None, None), f'"{lex}"'
        g = f"http://crawl.example/graph/{rng.randrange(8)}" \
            if quads and rng.random() < 0.7 else None
        line = f"<{subj_iri}> <{pred}> {nt}" + (f" <{g}>" if g else "") + " ."
        if line in seen:
            continue
        seen.add(line)
        out.append((line, (link(subj_iri), pred) + obj + (g,)))
        if rng.random() < 0.05:
            lab = f"_:{label_prefix}x{len(out)}"
            out.append((f"<{subj_iri}> <{SCHEMA}about> {lab} .", None))
            out.append((f'{lab} <{SCHEMA}name> "{_phrase(rng)}" .', None))
    return out


def _line_text(entries) -> str:
    return "\n".join(line for line, _t in entries) + "\n"


def _jsonld_block(rng, objs: _Objects, link):
    """A small JSON-LD @graph: ids, types, names, knows edges."""
    nodes, triples = [], []
    seen_ids = set()
    for _ in range(rng.randint(1, 3)):
        e = objs.entity()
        if e in seen_ids:
            continue
        seen_ids.add(e)
        t = rng.choice(_TYPES)
        name = _phrase(rng)
        other = objs.entity()
        nodes.append({"@id": e, "@type": t, "s:name": name,
                      "s:knows": {"@id": other}})
        s = link(e)
        triples += [(s, RDF_TYPE, IRI, t, None, None, None),
                    (s, SCHEMA + "name", LITERAL, name, None, None, None),
                    (s, SCHEMA + "knows", IRI, link(other), None, None, None)]
    doc = {"@context": {"s": SCHEMA}, "@graph": nodes}
    return json.dumps(doc), triples


def _malformed(rng) -> tuple[str, str]:
    """A block every conforming parser rejects as a whole."""
    kind = rng.randrange(4)
    if kind == 0:
        return "turtle", f"@prefix s: <{SCHEMA}> .\nx:undeclared s:name \"q\" .\n"
    if kind == 1:
        return "turtle", f"<{ENTITY}e1> <{SCHEMA}name> \"unterminated .\n"
    if kind == 2:
        return "ntriples", (f"<{ENTITY}e1> <{SCHEMA}name> \"ok\" .\n"
                            f"<{ENTITY}e2> <{SCHEMA}name> \"no dot\"\n")
    return "jsonld", '{"@context": {"s": "' + SCHEMA + '"}, "@id": "' + ENTITY + 'e3", '


# ---------------------------------------------------------------- html

_MEDIA = {"turtle": "text/turtle", "ntriples": "application/n-triples",
          "nquads": "application/n-quads", "jsonld": "application/ld+json"}


def _boilerplate_pool(rng: random.Random) -> list[str]:
    """Markup fragments with no RDFa/Microdata attributes, so the only
    RDF on a page is its script blocks."""
    pool = []
    for i in range(120):
        words = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(40, 120)))
        k = i % 6
        if k == 0:
            pool.append(f'<div class="post-{i}"><p>{words}</p></div>\n')
        elif k == 1:
            links = "".join(f'<li><a href="/n/{rng.randrange(999)}">{rng.choice(_WORDS)}</a></li>'
                            for _ in range(12))
            pool.append(f'<nav class="menu"><ul>{links}</ul></nav>\n')
        elif k == 2:
            pool.append('<script type="text/javascript">window.cfg = {'
                        + ",".join(f'"{w}{j}": {j}' for j, w in enumerate(words.split()[:30]))
                        + "};</script>\n")
        elif k == 3:
            pool.append("<style>" + "".join(f".c{j}{{margin:{j}px}}" for j in range(40))
                        + "</style>\n")
        elif k == 4:
            pool.append(f"<section><h2>{words[:40]}</h2><p>{words}</p>"
                        f'<img src="/i/{i}.png" alt="{words[:20]}"></section>\n')
        else:
            pool.append(f'<footer><p class="small">{words}</p></footer>\n')
    return pool


# block formats per page, cycled so the work per seed varies little; at
# most one Turtle block per page (see the module docstring on bnodes)
_LAYOUTS = (("turtle",), ("turtle",), ("turtle",), ("turtle",), ("jsonld",),
            ("ntriples",), ("turtle", "ntriples"), ("turtle", "jsonld"),
            ("turtle", "nquads"), ("turtle", "nquads", "jsonld"))


def html_crawl(seed: int, n_pages: int = 240, n_entities: int = 1500,
               n_buckets: int = 2) -> Workload:
    """Common-Crawl-shaped pages: tens of KB of boilerplate around one to
    three embedded blocks (mostly Turtle; some N-Triples, N-Quads and
    JSON-LD; about 2 % of blocks malformed)."""
    rng = random.Random(seed)
    dictionary = _dictionary(n_entities, rng)
    link = _linker(dictionary)
    objs = _Objects(rng, _Zipf(n_entities), link)
    pool = _boilerplate_pool(rng)
    wl = Workload(n_buckets, True, [], dictionary)
    for i in range(n_pages):
        url = f"http://crawl.example/s{seed}/page/{i}"
        fmts = _LAYOUTS[i % len(_LAYOUTS)]
        blocks, triples, bnodes, bad = [], [], 0, 0
        for j, fmt in enumerate(fmts):
            if rng.random() < 0.02:
                fmt, text = _malformed(rng)
                bad += 1
            elif fmt == "turtle":
                text, t, b = _turtle_block(url, rng, objs, link)
                triples += t
                bnodes += b
            elif fmt == "jsonld":
                text, t = _jsonld_block(rng, objs, link)
                triples += t
            else:
                entries = _line_block(rng, objs, link, fmt == "nquads",
                                      rng.randint(4, 14), f"p{i}b{j}")
                text = _line_text(entries)
                triples += [t for _ln, t in entries if t is not None]
                bnodes += sum(1 for _ln, t in entries if t is None)
            blocks.append(f'<script type="{_MEDIA[fmt]}">\n{text}</script>\n')
        parts = [f"<!DOCTYPE html>\n<html lang=\"en\"><head><title>page {i}</title>"
                 '<meta charset="utf-8"></head><body>\n']
        body = [rng.choice(pool) for _ in range(rng.randint(20, 60))]
        for blk in blocks:
            body.insert(rng.randrange(len(body) + 1), blk)
        parts += body
        parts.append("</body></html>\n")
        wl.pages.append((url, "".join(parts).encode("utf-8")))
        wl.page_triples[url] = triples
        wl.page_bnode_rows[url] = bnodes
        wl.page_bad_blocks[url] = bad
    return wl


def _people(rng: random.Random, n_people: int) -> list[list[tuple]]:
    """Person records as N-Triples entries, one list per person: type,
    name, integer age, an optional email and Zipf-skewed knows edges
    (the graph the query mix's star join, numeric filter and 2-hop
    path read)."""
    pick = _Zipf(n_people, 1.05)
    out = []
    for i in range(n_people):
        e = f"{PERSON}p{i}"
        name = f"{rng.choice(_WORDS).title()} {rng.choice(_WORDS).title()}"
        age = str(rng.randrange(18, 90))
        rows = [(RDF_TYPE, IRI, SCHEMA + "Person", None, f"<{SCHEMA}Person>"),
                (SCHEMA + "name", LITERAL, name, None, f'"{name}"'),
                (SCHEMA + "age", LITERAL, age, XSD_INTEGER,
                 f'"{age}"^^<{XSD_INTEGER}>')]
        if rng.random() < 0.6:
            mail = f"{name.split()[0].lower()}{i}@mail.example"
            rows.append((SCHEMA + "email", LITERAL, mail, None, f'"{mail}"'))
        for f in sorted({pick(rng) for _ in range(rng.randint(1, 3))} - {i}):
            rows.append((SCHEMA + "knows", IRI, f"{PERSON}p{f}", None,
                         f"<{PERSON}p{f}>"))
        out.append([(f"<{e}> <{p}> {nt} .", (e, p, k, v, d, None, None))
                    for p, k, v, d, nt in rows])
    return out


def nt_bulk(seed: int, n_docs: int = 60, n_entities: int = 800,
            n_people: int = 1200) -> Workload:
    """Long pre-extracted N-Triples / N-Quads documents, heavily
    duplicated across documents: each is headed by the hottest subjects,
    then a window of a shared line pool (a fixed share of literals carry
    ``\\u`` escapes) and a window of person records. One document in 30
    holds a malformed line."""
    rng = random.Random(seed ^ 0x5EED)
    dictionary = _dictionary(n_entities, rng)
    link = _linker(dictionary)
    # a small entity universe and a fixed line pool drive duplication
    objs = _Objects(rng, _Zipf(n_entities, 1.3), link)
    pool = [(k % 2 == 1, _line_block(rng, objs, link, k % 2 == 1, 900,
                                     f"pool{k}", escapes=0.08))
            for k in range(6)]
    head = _line_block(rng, _Objects(rng, _Zipf(10, 2.0), link), link, False,
                       40, "head")
    head_lines = {line for line, _t in head}
    people = _people(rng, n_people)
    wl = Workload(1, False, [], dictionary,
                  people=[f"{PERSON}p{i}" for i in range(n_people)])
    for i in range(n_docs):
        url = f"http://bulk.example/s{seed}/doc/{i}"
        quads, entries = pool[rng.randrange(len(pool))]
        fmt = "nquads" if quads else "ntriples"
        if i % 30 == 17:
            text = _line_text(entries[:50]) + f'<{ENTITY}e1> <{SCHEMA}name> "broken\n'
            wl.pages.append((url, fmt, text))
            wl.page_triples[url], wl.page_bnode_rows[url] = [], 0
            wl.page_bad_blocks[url] = 1
            continue
        start = rng.randrange(len(entries) - 400)
        window = [e for e in entries[start:start + rng.randint(250, 400)]
                  if e[0] not in head_lines]
        first = rng.randrange(n_people - 100)
        persons = [e for rec in people[first:first + rng.randint(40, 100)]
                   for e in rec]
        doc = head + window + persons
        wl.pages.append((url, fmt, _line_text(doc)))
        wl.page_triples[url] = [t for _ln, t in doc if t is not None]
        wl.page_bnode_rows[url] = sum(1 for _ln, t in doc if t is None)
        wl.page_bad_blocks[url] = 0
    return wl


WORKLOADS = {"html_crawl": html_crawl, "nt_bulk": nt_bulk}
