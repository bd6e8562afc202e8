"""Each correctness check passes on a correct output and fails on a
deliberately corrupted one."""

import math
import os
from urllib.parse import quote

import checks
import gen


def _write_trees(out_dir, inp, trees):
    """A ``write_ttl``-shaped tree holding exactly the expected lines."""
    for tree in trees:
        for task, pages in inp.expected.items():
            for page, counts in pages.items():
                d = os.path.join(out_dir, tree, f"task_uri={quote(task, safe='')}",
                                 f"page_uri={quote(page, safe='')}")
                os.makedirs(d)
                with open(os.path.join(d, "part-00000.txt"), "w") as fh:
                    fh.writelines(f"<s> <p> \"{i}\" .\n"
                                  for i in range(getattr(counts, tree)))
    for task, pages in inp.expected.items():
        for page in pages:
            os.makedirs(os.path.join(out_dir, "content",
                                     f"file_uri={quote(page, safe='')}"))


def _first_part(out_dir, tree):
    for base, _, files in sorted(os.walk(os.path.join(out_dir, tree))):
        for f in files:
            if f.startswith("part-"):
                return os.path.join(base, f)


def test_tree_check_catches_a_dropped_line(tmp_path):
    inp = gen.harvest_inputs(1, 2, 5, 6000)
    trees = ("valid", "original", "invalid", "corrected")
    _write_trees(str(tmp_path), inp, trees)
    assert checks.check_trees(str(tmp_path), inp.expected, trees) == []
    part = _first_part(str(tmp_path), "valid")
    lines = open(part).readlines()
    open(part, "w").writelines(lines[1:])
    problems = checks.check_trees(str(tmp_path), inp.expected, trees)
    assert len(problems) == 1 and problems[0].startswith("valid ")


def test_tree_check_catches_a_missing_content_file(tmp_path):
    inp = gen.harvest_inputs(2, 1, 4, 6000)
    _write_trees(str(tmp_path), inp, ("valid",))
    content = os.path.join(str(tmp_path), "content")
    os.rmdir(os.path.join(content, sorted(os.listdir(content))[0]))
    assert checks.check_trees(str(tmp_path), inp.expected, ("valid",)) == [
        f"content: {len(os.listdir(content))} files, "
        f"want {len(os.listdir(content)) + 1}"]


def test_status_and_error_checks():
    tasks = ["t1", "t2"]
    ok = [("t1", checks.STATUS_SUCCESS), ("t2", checks.STATUS_SUCCESS)]
    assert checks.check_status(ok, tasks) == []
    assert checks.check_status(ok[:1], tasks)
    assert checks.check_status([ok[0], ("t2", "…/failed")], tasks)
    assert checks.check_errors(8, {"t1": 2, "t2": 0}, tasks) == []
    assert checks.check_errors(4, {"t1": 2, "t2": 0}, tasks)


def test_bm25_reference_by_hand():
    ref = checks.bm25_reference({1: "a b", 2: "A", 3: None, 4: ""}, [(0, "a")])
    # N=4, avgdl=3/4, df(a)=2, Lucene idf
    idf = math.log(1 + (4 - 2 + 0.5) / (2 + 0.5))
    want1 = idf * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 2 / 0.75))
    want2 = idf * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 1 / 0.75))
    assert set(ref[0]) == {1, 2}
    assert math.isclose(ref[0][1], want1) and math.isclose(ref[0][2], want2)


def _top(ref, k):
    return {q: sorted(((d, round(s, 6)) for d, s in c.items()),
                      key=lambda x: (-x[1], x[0]))[:k]
            for q, c in ref.items()}


def test_topk_check_catches_a_wrong_hit():
    c = gen.corpus_inputs(3, 2, 120, 6)
    live = {i: t for b in c.batches for i, t in b}
    ref = checks.bm25_reference(live, c.text_queries)
    got = _top(ref, 10)
    assert checks.check_topk(got, ref, 10, "bm25") == []
    q = next(q for q, hits in got.items() if len(hits) == 10)
    outside = next(d for d in live if d not in ref[q])
    bad = dict(got)
    bad[q] = got[q][:3] + [(outside, got[q][3][1])] + got[q][4:]
    assert checks.check_topk(bad, ref, 10, "bm25")
    bad[q] = got[q][:-1]
    assert checks.check_topk(bad, ref, 10, "bm25")
    bad[q] = got[q][1:] + [got[q][-1]]
    assert checks.check_topk(bad, ref, 10, "bm25")


def test_ivf_check_catches_a_wrong_hit():
    c = gen.corpus_inputs(5, 2, 150, 6)
    live = {i: v for b in c.vectors for i, v in b}
    ref = checks.ivf_reference(live, c.centroids, c.vec_queries, 2)
    got = _top(ref, 10)
    assert checks.check_topk(got, ref, 10, "ivf") == []
    q = 0
    # a vector from an unprobed cell, with a plausible score
    outside = next(d for d in live if d not in ref[q])
    bad = dict(got)
    bad[q] = [(outside, got[q][0][1])] + got[q][1:]
    assert checks.check_topk(bad, ref, 10, "ivf")
    # a deleted vector is no longer a valid hit
    live.pop(got[q][0][0])
    ref2 = checks.ivf_reference(live, c.centroids, c.vec_queries, 2)
    assert checks.check_topk(got, ref2, 10, "ivf")
