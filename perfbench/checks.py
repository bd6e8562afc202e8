"""Correctness checks, independent of the program under test.

Each ``check_*`` function returns a list of human-readable problems; an
empty list means the output is correct. The harness counts an operation
as failed when its check returns any problem.

* TTL trees: per-(task, page) line counts of each tree written by the
  import pipeline, and spilled content files, against the generator's
  expectations (``gen.PageCounts``).
* Status and error outputs: every task reaches ``success``; error triples
  match the seeded null-body pages.
* BM25: a pure-Python BM25 over the live (not deleted) documents.
* IVF: a brute-force NumPy cosine ranking over the same probed cells.

Search results are compared with a small score tolerance, because the
program rounds scores to 6 decimals in a different arithmetic order.
"""

from __future__ import annotations

import math
import os
import re
from collections import Counter
from urllib.parse import unquote

import numpy as np

STATUS_SUCCESS = "http://redpencil.data.gift/id/concept/JobStatus/success"
SCORE_TOL = 1e-5
K1 = 1.2
B = 0.75


def _partition_value(dirname: str) -> str:
    return unquote(dirname.split("=", 1)[1])


def tree_line_counts(root: str) -> Counter:
    """(task_uri, page_uri) → number of lines over all part files of a
    ``write_ttl`` tree partitioned by task and page."""
    counts: Counter = Counter()
    if not os.path.isdir(root):
        return counts
    for task_dir in os.listdir(root):
        if not task_dir.startswith("task_uri="):
            continue
        task = _partition_value(task_dir)
        for page_dir in os.listdir(os.path.join(root, task_dir)):
            if not page_dir.startswith("page_uri="):
                continue
            page = _partition_value(page_dir)
            pdir = os.path.join(root, task_dir, page_dir)
            for name in os.listdir(pdir):
                if name.startswith("part-"):
                    with open(os.path.join(pdir, name), "rb") as fh:
                        counts[(task, page)] += sum(1 for _ in fh)
    return counts


def content_files(root: str) -> int:
    """Number of spilled content files (one ``file_uri=`` directory each)."""
    if not os.path.isdir(root):
        return 0
    return sum(1 for d in os.listdir(root) if d.startswith("file_uri="))


def check_trees(out_dir: str, expected: dict, trees: tuple[str, ...],
                tasks: list[str] | None = None,
                content: bool = True) -> list[str]:
    """Compare each tree's per-page line counts with the generator's
    expectations for ``tasks`` (default: all), and with ``content`` also
    the number of spilled content files."""
    problems: list[str] = []
    tasks = list(expected) if tasks is None else tasks
    for tree in trees:
        root = os.path.join(out_dir, tree)
        got = tree_line_counts(root)
        want: dict = {}
        for task in tasks:
            for page, counts in expected[task].items():
                n = getattr(counts, tree)
                if n:
                    want[(task, page)] = n
        keys = set(want) | {k for k in got if k[0] in tasks}
        for key in sorted(keys):
            if got.get(key, 0) != want.get(key, 0):
                problems.append(f"{tree} {key[0]} {key[1]}: "
                                f"{got.get(key, 0)} lines, want {want.get(key, 0)}")
    if content:
        problems += check_content(out_dir, expected, tasks)
    return problems


def check_content(out_dir: str, expected: dict, tasks: list[str]) -> list[str]:
    """The content tree holds exactly the spilled files of ``tasks``."""
    want = sum(c.spilled for t in tasks for c in expected[t].values())
    got = content_files(os.path.join(out_dir, "content"))
    if got == want:
        return []
    return [f"content: {got} files, want {want}"]


def check_status(status_rows: list[tuple], tasks: list[str]) -> list[str]:
    """Every task has exactly one status update and it is ``success``."""
    got = Counter(status_rows)
    want = Counter((t, STATUS_SUCCESS) for t in tasks)
    if got == want:
        return []
    return [f"status: got {sorted(got.items())[:3]}…, want every task success"]


def check_errors(n_error_triples: int, null_pages: dict, tasks: list[str]) -> list[str]:
    """Four error triples (type, uuid, message, task link) per null-body
    page of the tasks that ran."""
    want = 4 * sum(null_pages[t] for t in tasks)
    if n_error_triples == want:
        return []
    return [f"error triples: {n_error_triples}, want {want}"]


# --------------------------------------------------------------------------
# search references
# --------------------------------------------------------------------------

def _terms(text: str | None) -> list[str]:
    if text is None:
        return []
    return [t for t in re.split(r"\s+", text.lower().strip()) if t]


def bm25_reference(live_docs: dict[int, str | None],
                   queries: list[tuple[int, str]]) -> dict[int, dict[int, float]]:
    """qid → {doc id → BM25 score} for every live document that contains
    at least one query term (Lucene idf, k1=1.2, b=0.75)."""
    tf: dict[int, Counter] = {i: Counter(_terms(t)) for i, t in live_docs.items()}
    dl = {i: sum(c.values()) for i, c in tf.items()}
    n = len(live_docs)
    avgdl = sum(dl.values()) / n
    df: Counter = Counter()
    for c in tf.values():
        df.update(c.keys())
    out: dict[int, dict[int, float]] = {}
    for qid, qtext in queries:
        qterms = sorted(set(_terms(qtext)))
        scores: dict[int, float] = {}
        for doc, c in tf.items():
            acc = None
            for term in qterms:
                if term not in c:
                    continue
                idf = math.log(1.0 + (n - df[term] + 0.5) / (df[term] + 0.5))
                f = c[term]
                denom = f + K1 * (1.0 - B + B * dl[doc] / avgdl)
                acc = (acc or 0.0) + idf * (f * (K1 + 1.0)) / denom
            if acc is not None:
                scores[doc] = acc
        out[qid] = scores
    return out


def _assign(vecs: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    cn = np.linalg.norm(centroids, axis=1)
    return np.argmax(vecs @ centroids.T / cn, axis=1)


def ivf_reference(live_vecs: dict[int, list[float]], centroids: list[list[float]],
                  queries: list[tuple[int, list[float]]],
                  n_probe: int) -> dict[int, dict[int, float]]:
    """qid → {vector id → cosine} over the live vectors whose nearest
    centroid is one of the query's ``n_probe`` nearest centroids."""
    ids = np.array(sorted(live_vecs))
    mat = np.array([live_vecs[i] for i in ids], dtype=np.float64)
    cent = np.array(centroids, dtype=np.float64)
    cells = _assign(mat, cent)
    norms = np.linalg.norm(mat, axis=1)
    cn = np.linalg.norm(cent, axis=1)
    out: dict[int, dict[int, float]] = {}
    for qid, qv in queries:
        q = np.array(qv, dtype=np.float64)
        rank = sorted(range(len(cent)), key=lambda c: (-(q @ cent[c]) / cn[c], c))
        mask = np.isin(cells, rank[:n_probe])
        cos = (mat[mask] @ q) / (norms[mask] * np.linalg.norm(q))
        out[qid] = dict(zip(ids[mask].tolist(), cos.tolist()))
    return out


def check_topk(got: dict[int, list[tuple[int, float]]],
               ref: dict[int, dict[int, float]], k: int,
               label: str) -> list[str]:
    """``got``: qid → [(id, score)] in rank order. Each query's hits must
    be reference candidates with matching scores, in score order, and no
    candidate left out may score better than the last hit."""
    problems: list[str] = []
    for qid, cand in ref.items():
        hits = got.get(qid, [])
        if len(hits) != min(k, len(cand)):
            problems.append(f"{label} q{qid}: {len(hits)} hits, want {min(k, len(cand))}")
            continue
        for hid, score in hits:
            if hid not in cand or abs(cand[hid] - score) > SCORE_TOL:
                problems.append(f"{label} q{qid}: hit {hid} score {score} "
                                f"not in reference ({cand.get(hid)})")
        scores = [s for _, s in hits]
        if any(a < b for a, b in zip(scores, scores[1:])):
            problems.append(f"{label} q{qid}: hits not in score order")
        if hits:
            returned = {h for h, _ in hits}
            floor = min(scores)
            better = [d for d, s in cand.items()
                      if d not in returned and s > floor + SCORE_TOL]
            if better:
                problems.append(f"{label} q{qid}: missed better hits {better[:3]}")
    for qid in set(got) - set(ref):
        problems.append(f"{label}: unexpected query {qid}")
    return problems
