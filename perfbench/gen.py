"""Seeded input generator for the benchmark workloads.

Everything here is pure Python and a function of ``seed`` alone: the same
seed gives byte-identical inputs (see :func:`fingerprint`). The program
under test only ever sees what these functions return.

* :func:`harvest_inputs` — control triples and page bodies for a
  set-oriented import (``harvest_batch``), plus the expected line counts
  per (task, page) and tree, and spilled content files per page.
* :func:`service_inputs` — the same shape with small tasks, plus one
  ``POST /delta`` body per task (the traced live-service pass).
* :func:`corpus_inputs` — document/vector batches, per-step deletes and
  a fixed query set (``corpus_index``).

Page model. A page is a municipal council session ("zitting") rendered as
LBLOD-style nested RDFa: the session, its agenda items and one decision
per item, each with typed literals. Every typed literal is drawn valid,
repairable or unrepairable, so the generator knows which triples land in
the valid, invalid and corrected trees without running the program:

* ``original``  = every extracted triple + one ``prov:wasDerivedFrom`` per
  distinct subject;
* ``invalid``   = repairable + unrepairable;
* ``corrected`` = repairable;
* ``valid``     = ``original`` − unrepairable.

One ``rdf:HTML`` decision block per page becomes an
``extractedDecisionContent`` triple (valid, rewritten to a file IRI) and
one spilled content file. Most of each page's bytes are plain markup
(navigation, paragraphs, a table) that yields no triples.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
TASKS = "http://redpencil.data.gift/vocabularies/tasks/"
ADMS_STATUS = "http://www.w3.org/ns/adms#status"
TASK_TYPE = TASKS + "Task"
STATUS_SCHEDULED = "http://redpencil.data.gift/id/concept/JobStatus/scheduled"
IMPORTING = "http://lblod.data.gift/id/jobs/concept/TaskOperation/importing"
GRAPH = "http://mu.semte.ch/graphs/harvesting"

PREFIXES = ("besluit: http://data.vlaanderen.be/ns/besluit# "
            "eli: http://data.europa.eu/eli/ontology# "
            "geo: http://www.opengis.net/ont/geosparql# "
            "dct: http://purl.org/dc/terms/")

# Typed-literal draws: (category, datatype CURIE, lexical form). The
# repairable forms are the reference service's three (slashed dates,
# upper-case booleans, https CRS IRIs) plus xsd:int → integer;
# each form's verdict follows validateTriple/fixTriple semantics.
_LITERALS = {
    "bool": {"valid": [("xsd:boolean", "true"), ("xsd:boolean", "false")],
             "fix": [("xsd:boolean", "TRUE"), ("xsd:boolean", "False")],
             "bad": [("xsd:boolean", "ja")]},
    "date": {"valid": [("xsd:date", "2023-05-07"), ("xsd:date", "2024-11-21")],
             "fix": [("xsd:date", "2023/05/07"), ("xsd:date", "2024/1/9")],
             "bad": [("xsd:date", "onbekend")]},
    "datetime": {"valid": [("xsd:dateTime", "2023-05-07T19:30:00")],
                 "fix": [("xsd:dateTime", "2023/05/07 19:30")],
                 "bad": [("xsd:dateTime", "na de pauze")]},
    "number": {"valid": [("xsd:integer", "7"), ("xsd:integer", "12")],
               "fix": [("xsd:int", "3"), ("xsd:int", "15")],
               "bad": [("xsd:integer", "n.v.t.")]},
    "wkt": {"valid": [("geo:wktLiteral",
                       "<http://www.opengis.net/def/crs/EPSG/0/31370> "
                       "POINT(153000 212000)")],
            "fix": [("geo:wktLiteral",
                     "<https://www.opengis.net/def/crs/EPSG/0/31370> "
                     "POINT(104000 194000)")],
            "bad": []},
}
# share of typed literals drawn per category (about a third need repair)
_P_FIX = 0.33
_P_BAD = 0.06

_WORDS = (
    "gemeente raad zitting besluit agenda punt stad burgemeester schepen "
    "college openbaar verslag notulen stemming budget begroting wijziging "
    "reglement straat park school sport cultuur jeugd welzijn milieu "
    "mobiliteit verkeer parkeren fiets plein markt kerk brug haven water "
    "energie afval subsidie vergunning bouw plan ruimte wonen zorg senior "
    "kind onderwijs bibliotheek museum theater festival vereniging advies "
    "dossier goedkeuring kennisname aanstelling ontslag personeel dienst "
    "project opdracht aanbesteding overeenkomst contract huur verkoop "
    "aankoop grond perceel wegenis riolering verlichting groen bos natuur"
).split()


def _rng(seed: int, stream: str) -> random.Random:
    return random.Random(f"{seed}/{stream}")


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _filler(rng: random.Random, target_bytes: int) -> str:
    """Plain markup with no RDFa attributes: paragraphs, link lists and a
    table, about ``target_bytes`` long."""
    out: list[str] = []
    size = 0
    while size < target_bytes:
        kind = rng.random()
        if kind < 0.55:
            s = f'<p class="txt">{_words(rng, rng.randint(30, 90))}.</p>\n'
        elif kind < 0.8:
            items = "".join(
                f'<li><a href="/pagina/{rng.randint(1, 9999)}">'
                f'{_words(rng, rng.randint(1, 4))}</a></li>'
                for _ in range(rng.randint(4, 12)))
            s = f'<ul class="nav">{items}</ul>\n'
        else:
            rows = "".join(
                "<tr>" + "".join(f"<td>{_words(rng, rng.randint(1, 3))}</td>"
                                 for _ in range(4)) + "</tr>"
                for _ in range(rng.randint(3, 8)))
            s = f'<table class="tbl"><tbody>{rows}</tbody></table>\n'
        out.append(s)
        size += len(s)
    return "".join(out)


@dataclass
class PageCounts:
    """Expected N-Triples line counts per output tree for one page."""

    original: int = 0
    valid: int = 0
    invalid: int = 0
    corrected: int = 0
    spilled: int = 0


def _typed(rng: random.Random, kind: str, counts: PageCounts) -> tuple[str, str]:
    draws = _LITERALS[kind]
    r = rng.random()
    if r < _P_BAD and draws["bad"]:
        cat = "bad"
    elif r < _P_BAD + _P_FIX:
        cat = "fix"
    else:
        cat = "valid"
    dt, value = rng.choice(draws[cat])
    counts.original += 1
    if cat == "valid":
        counts.valid += 1
    else:
        counts.invalid += 1
        if cat == "fix":
            counts.valid += 1
            counts.corrected += 1
    return dt, value


def make_page(rng: random.Random, page_key: str, page_bytes: int,
              min_items: int, max_items: int) -> tuple[str, PageCounts]:
    """One council-session page and its expected per-tree line counts."""
    c = PageCounts()
    base = f"http://data.lblod.info/id/{page_key}"
    zitting = f"{base}/zitting"
    subjects = 1

    def plain() -> None:
        c.original += 1
        c.valid += 1

    parts = [f'<div class="besluiten" prefix="{PREFIXES}">',
             f'<div about="{zitting}" typeof="besluit:Zitting">']
    plain()  # rdf:type
    parts.append(f'<h1 property="dct:title">{_words(rng, 6)}</h1>')
    plain()
    dt, v = _typed(rng, "datetime", c)
    parts.append(f'<span property="besluit:geplandeStart" datatype="{dt}" '
                 f'content="{v}">{_words(rng, 3)}</span>')
    parts.append(_filler(rng, page_bytes // 8))
    n_items = rng.randint(min_items, max_items)
    for i in range(n_items):
        ap = f"{base}/agendapunt/{i}"
        bs = f"{base}/besluit/{i}"
        subjects += 2
        parts.append(f'<a rel="besluit:behandelt" href="{ap}">punt {i}</a>')
        plain()
        parts.append(f'<div class="punt" about="{ap}" typeof="besluit:Agendapunt">')
        plain()
        parts.append(f'<h2 property="dct:title">{_words(rng, 5)}</h2>')
        plain()
        parts.append(f'<p property="dct:description">{_words(rng, 25)}</p>')
        plain()
        dt, v = _typed(rng, "bool", c)
        parts.append(f'<span property="besluit:openbaar" datatype="{dt}" '
                     f'content="{v}">openbaar</span>')
        parts.append(f'<a rel="besluit:heeftBesluit" href="{bs}">besluit</a>')
        plain()
        parts.append(f'<div class="besluit" about="{bs}" typeof="besluit:Besluit">')
        plain()
        parts.append(f'<span property="eli:title">{_words(rng, 8)}</span>')
        plain()
        for kind, pred in (("date", "eli:date_publication"),
                           ("number", "besluit:volgnummer"),
                           ("wkt", "besluit:locatie")):
            dt, v = _typed(rng, kind, c)
            parts.append(f'<span property="{pred}" datatype="{dt}" '
                         f'content="{v}">{_words(rng, 2)}</span>')
        parts.append(f'<p>{_words(rng, rng.randint(10, 40))}</p></div></div>')
    # the decision body: rdf:HTML → extractedDecisionContent + a spilled file
    parts.append(
        '<div property="prov:value" datatype="rdf:HTML">'
        f'<h3>Besluit {page_key}</h3><p>{_words(rng, 120)}</p>'
        f'<ul><li>{_words(rng, 12)}</li><li>{_words(rng, 12)}</li></ul></div>')
    plain()
    c.spilled = 1
    parts.append("</div></div>")
    # provenance: one prov:wasDerivedFrom per distinct subject
    c.original += subjects
    c.valid += subjects
    rdfa = "".join(parts)
    head = ('<!DOCTYPE html><html lang="nl"><head><meta charset="utf-8">'
            f'<title>{_words(rng, 4)}</title></head><body>'
            f'<header>{_filler(rng, page_bytes // 6)}</header><main>')
    used = len(head) + len(rdfa)
    tail = (f'</main><footer>{_filler(rng, max(page_bytes - used, 200))}'
            '</footer></body></html>')
    return head + rdfa + tail, c


@dataclass
class HarvestInputs:
    """Control triples (TRIPLE_SCHEMA tuples), page bodies
    ``(page_uri, url, html)`` and the expectations the checks compare
    against."""

    control: list[tuple]
    pages: list[tuple]
    tasks: list[str]
    # task_uri → page_uri → PageCounts (pages with a body only)
    expected: dict[str, dict[str, PageCounts]]
    # task_uri → number of null-body pages (expected error rows)
    null_pages: dict[str, int]
    # page_uri → task_uri, every page
    page_task: dict[str, str]
    html_bytes: int = 0


def _task_triples(task: str, container: str, pages: list[str]) -> list[tuple]:
    def t(s, p, o):
        return (s, p, o, "iri", None, None, GRAPH)

    rows = [t(task, RDF + "type", TASK_TYPE),
            t(task, ADMS_STATUS, STATUS_SCHEDULED),
            t(task, TASKS + "operation", IMPORTING),
            t(task, TASKS + "inputContainer", container)]
    rows += [t(container, TASKS + "hasFile", p) for p in pages]
    return rows


def harvest_inputs(seed: int, n_tasks: int, pages_per_task: int,
                   page_bytes: int, null_share: float = 0.02,
                   min_items: int = 4, max_items: int = 8,
                   stream: str = "harvest") -> HarvestInputs:
    """``n_tasks`` scheduled import tasks of ``pages_per_task`` pages each.
    A ``null_share`` of pages has no body (an expected extraction error)."""
    rng = _rng(seed, stream)
    control: list[tuple] = []
    pages: list[tuple] = []
    tasks: list[str] = []
    expected: dict[str, dict[str, PageCounts]] = {}
    nulls: dict[str, int] = {}
    page_task: dict[str, str] = {}
    html_bytes = 0
    for ti in range(n_tasks):
        task = f"http://data.lblod.info/id/tasks/{stream}-{seed}-{ti}"
        container = f"http://data.lblod.info/id/containers/{stream}-{seed}-{ti}"
        tasks.append(task)
        expected[task] = {}
        nulls[task] = 0
        page_uris = []
        for pi in range(pages_per_task):
            key = f"{stream}{seed}-t{ti}-p{pi}"
            page_uri = f"share://{key}.html"
            url = f"https://gemeente.example/zittingen/{key}"
            page_uris.append(page_uri)
            page_task[page_uri] = task
            if rng.random() < null_share:
                pages.append((page_uri, url, None))
                nulls[task] += 1
                continue
            size = int(page_bytes * rng.uniform(0.7, 1.3))
            html, counts = make_page(rng, key, size, min_items, max_items)
            html_bytes += len(html.encode())
            pages.append((page_uri, url, html))
            expected[task][page_uri] = counts
        control += _task_triples(task, container, page_uris)
    return HarvestInputs(control, pages, tasks, expected, nulls, page_task,
                         html_bytes)


def delta_body(task: str) -> str:
    """One ``POST /delta`` body scheduling ``task`` (plus an unrelated
    insert the stream's scheduled-task filter must skip)."""
    def term(v):
        return {"type": "uri", "value": v}

    return json.dumps([{
        "inserts": [
            {"subject": term(task), "predicate": term(ADMS_STATUS),
             "object": term(STATUS_SCHEDULED)},
            {"subject": term(task),
             "predicate": term("http://purl.org/dc/terms/modified"),
             "object": {"type": "literal", "value": "2024-01-01T00:00:00Z"}},
        ],
        "deletes": []}])


def service_inputs(seed: int, n_tasks: int, pages_per_task: int,
                   page_bytes: int) -> tuple[HarvestInputs, list[str]]:
    """Small tasks for the live service and one distinct delta body per
    task (identical bodies would be deduplicated by the endpoint)."""
    inp = harvest_inputs(seed, n_tasks, pages_per_task, page_bytes,
                         null_share=0.03, min_items=2, max_items=4,
                         stream="service")
    return inp, [delta_body(t) for t in inp.tasks]


# corpus shape: vector width, hidden topics the vectors cluster around,
# share of live ids deleted per step, vocabulary size, IVF cells, and the
# k-means iterations that train the cells' centroids
DIM = 16
N_TOPICS = 12
DELETE_SHARE = 0.03
VOCAB_SIZE = 3000
N_CELLS = 8
KMEANS_ITERS = 8


@dataclass
class CorpusInputs:
    """Per-batch ``(id, text)`` documents and ``(id, vector)`` rows (one
    vector per document id), per-step delete lists and the fixed query
    sets."""

    batches: list[list[tuple]]
    vectors: list[list[tuple]]
    deletes: list[list[int]]
    text_queries: list[tuple]
    vec_queries: list[tuple]
    centroids: list[list[float]]


def train_centroids(vectors: list[list[float]], k: int,
                    seed: int) -> list[list[float]]:
    """IVF centroids by Lloyd's k-means over ``vectors`` (seeded init,
    ``KMEANS_ITERS`` iterations), rounded to 6 decimals."""
    import numpy as np

    x = np.array(vectors, dtype=np.float64)
    rng = np.random.default_rng(seed)
    c = x[rng.choice(len(x), size=k, replace=False)]
    for _ in range(KMEANS_ITERS):
        cell = np.argmax(x @ c.T / np.linalg.norm(c, axis=1), axis=1)
        for j in range(k):
            if np.any(cell == j):
                c[j] = x[cell == j].mean(axis=0)
    return np.round(c, 6).tolist()


def corpus_inputs(seed: int, n_batches: int, docs_per_batch: int,
                  n_queries: int) -> CorpusInputs:
    """Zipf-distributed texts (about 4% empty or NULL), vectors clustered
    around ``N_TOPICS`` hidden centers, ``DELETE_SHARE`` of the live ids
    that have text deleted after every batch but the first, ``n_queries``
    text and vector queries, and ``N_CELLS`` IVF centroids trained on the
    first batch's vectors.

    Deletes draw only documents that have text: deleting a document with
    no terms does not reach its BM25 statistics (see
    ``perfbench/tests/test_known_defects.py``), so such a delete would
    fail on most seeds and mask every other fault."""
    rng = _rng(seed, "corpus")
    vocab = [f"{rng.choice(_WORDS)}{i}" for i in range(VOCAB_SIZE)]
    weights = [1.0 / (r + 1) ** 1.05 for r in range(VOCAB_SIZE)]
    centers = [[rng.gauss(0, 1) for _ in range(DIM)] for _ in range(N_TOPICS)]

    def vec(topic: int) -> list[float]:
        return [round(c + rng.gauss(0, 0.45), 6) for c in centers[topic]]

    batches, vectors, deletes = [], [], []
    live: list[int] = []  # ids with text, not deleted
    next_id = 0
    for b in range(n_batches):
        docs, vecs = [], []
        for _ in range(docs_per_batch):
            r = rng.random()
            if r < 0.02:
                text = None
            elif r < 0.04:
                text = ""
            else:
                text = " ".join(rng.choices(vocab, weights,
                                            k=rng.randint(15, 120)))
            docs.append((next_id, text))
            vecs.append((next_id, vec(rng.randrange(N_TOPICS))))
            next_id += 1
        dels: list[int] = []
        if b > 0:
            dels = sorted(rng.sample(live, max(1, int(len(live) * DELETE_SHARE))))
            gone = set(dels)
            live = [i for i in live if i not in gone]
        live += [i for i, text in docs if text]
        batches.append(docs)
        vectors.append(vecs)
        deletes.append(dels)
    text_queries = [(q, " ".join(rng.choices(vocab[:800], weights[:800],
                                             k=rng.randint(2, 4))))
                    for q in range(n_queries)]
    vec_queries = [(q, vec(rng.randrange(N_TOPICS))) for q in range(n_queries)]
    centroids = train_centroids([v for _, v in vectors[0]], N_CELLS, seed)
    return CorpusInputs(batches, vectors, deletes, text_queries, vec_queries,
                        centroids)


def fingerprint(obj) -> str:
    """sha256 over a canonical JSON rendering of generated inputs."""
    def enc(o):
        if hasattr(o, "__dataclass_fields__"):
            return {k: getattr(o, k) for k in o.__dataclass_fields__}
        raise TypeError(type(o))

    blob = json.dumps(obj, default=enc, sort_keys=True,
                      separators=(",", ":")).encode()
    return hashlib.sha256(blob).hexdigest()
