"""The generator is a pure function of the seed."""

from html.parser import HTMLParser

import gen


def extract_counts(html: str) -> int:
    """Triples an RDFa reader emits for the generator's markup: one per
    typeof, property and rel attribute, plus one provenance triple per
    distinct subject."""
    counts = {"triples": 0}
    subjects: set = set()

    class P(HTMLParser):
        def handle_starttag(self, tag, attrs):
            a = dict(attrs)
            counts["triples"] += sum(k in a for k in ("typeof", "property", "rel"))
            if "about" in a:
                subjects.add(a["about"])

    P().feed(html)
    return counts["triples"] + len(subjects)


def _all(seed):
    return (gen.harvest_inputs(seed, 2, 6, 8000),
            gen.service_inputs(seed, 2, 4, 4000),
            gen.corpus_inputs(seed, 3, 50, 6))


def test_same_seed_gives_identical_inputs():
    assert gen.fingerprint(_all(7)) == gen.fingerprint(_all(7))


def test_different_seed_gives_different_inputs():
    a, b = _all(7), _all(8)
    for x, y in zip(a, b):
        assert gen.fingerprint(x) != gen.fingerprint(y)


def test_pages_are_realistic():
    inp = gen.harvest_inputs(3, 2, 20, 25_000)
    bodies = [h for _, _, h in inp.pages if h is not None]
    sizes = sorted(len(h) for h in bodies)
    assert 10_000 < sizes[len(sizes) // 2] < 60_000
    counts = [c for t in inp.expected.values() for c in t.values()]
    triples = sum(c.original for c in counts)
    # about a third of the typed literals need repair; a few cannot be repaired
    assert 0.05 < sum(c.corrected for c in counts) / triples < 0.25
    assert sum(c.invalid - c.corrected for c in counts) > 0
    assert all(c.spilled == 1 for c in counts)
    assert all(40 <= c.original <= 140 for c in counts)


def test_expected_counts_match_an_independent_rdfa_reading():
    """The expectations are the generator's own bookkeeping; cross-check
    the triple count of every page against the stdlib HTML parser."""
    inp = gen.harvest_inputs(5, 1, 12, 10_000)
    for page, url, html in inp.pages:
        if html is None:
            continue
        want = inp.expected[inp.page_task[page]][page]
        assert extract_counts(html) == want.original


def test_corpus_deletes_only_live_earlier_ids():
    c = gen.corpus_inputs(4, 4, 100, 8)
    seen: set = set()
    gone: set = set()
    texts = {i: t for batch in c.batches for i, t in batch}
    for b, batch in enumerate(c.batches):
        assert set(c.deletes[b]) <= seen - gone
        # regular deletes hit documents with text, from the second batch on
        assert (b == 0) == (not c.deletes[b])
        assert all(texts[i] for i in c.deletes[b])
        gone |= set(c.deletes[b])
        seen |= {i for i, _ in batch}
    assert len(c.centroids) == gen.N_CELLS
    assert len(c.centroids[0]) == gen.DIM
