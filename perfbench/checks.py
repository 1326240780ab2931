"""Reference results from the generators' ground truth, and the output
checks that compare the program's results against them.

Every check returns a list of problems (empty when the output is
right), so a failed check is counted, not raised.
"""

from __future__ import annotations

import glob
import math
import os

import numpy as np

#: Relative tolerance between the engine's and the reference's doubles:
#: both sum the same terms, in different orders.
REL_TOL = 1e-9


def _close(got: float, want: float) -> bool:
    return abs(got - want) <= REL_TOL * max(1.0, abs(want))


def reference_pagerank(truth, n_iters: int = 10, d: float = 0.85) -> np.ndarray:
    """The reference's PageRank (PageRank.java:378,454-527) on the
    generated dump: seed 1/(non-empty lines), rank/out-degree per link
    occurrence with red links counted in the out-degree but their mass
    dropped, new rank 0.15 + 0.85 * sum, so a page nothing links to
    keeps 0.15."""
    n = len(truth.titles)
    outdeg = np.bincount(truth.src, minlength=n).astype(np.float64)
    live = truth.dst >= 0
    src, dst = truth.src[live], truth.dst[live]
    rank = np.full(n, 1.0 / truth.n_lines)
    for _ in range(n_iters):
        contrib = np.bincount(dst, weights=rank[src] / outdeg[src], minlength=n)
        rank = (1.0 - d) + d * contrib
    return rank


def read_kv_output(out_dir: str) -> list[tuple[str, str]]:
    """``key \\t value`` lines of a text output directory, part files in
    order (they concatenate in the global sort order)."""
    rows = []
    for path in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(path, encoding="utf-8") as f:
            for line in f:
                key, _, value = line.rstrip("\n").partition("\t")
                rows.append((key, value))
    return rows


def check_ranked(
    got: list[tuple[str, float]], want: dict[str, float], k: int | None
) -> list[str]:
    """A descending ranking, ties by key, against reference scores.

    Scores must match within ``REL_TOL``; the output holds ``min(k,
    len(want))`` distinct keys, is sorted by (score desc, key asc) as
    printed, and contains every key whose reference score is clearly
    above the k-th one (keys tied with it within the tolerance may fall
    either side of the cut)."""
    problems = []
    n_want = len(want) if k is None else min(k, len(want))
    if len(got) != n_want:
        problems.append(f"{len(got)} rows, want {n_want}")
    keys = [g[0] for g in got]
    if len(set(keys)) != len(keys):
        problems.append("duplicate keys")
    for key, score in got:
        if key not in want:
            problems.append(f"unexpected key {key!r}")
        elif not _close(score, want[key]):
            problems.append(f"{key}: score {score!r}, want {want[key]!r}")
        if len(problems) > 5:
            return problems
    for (k1, s1), (k2, s2) in zip(got, got[1:]):
        if s1 < s2 or (s1 == s2 and k1 > k2):
            problems.append(f"order: {k1} {s1!r} before {k2} {s2!r}")
            break
    if n_want:
        ordered = sorted(want.values(), reverse=True)
        cut = ordered[n_want - 1]
        present = set(keys)
        missing = [
            key for key, s in want.items()
            if s > cut and not _close(s, cut) and key not in present
        ]
        if missing:
            problems.append(f"{len(missing)} keys above the cut missing, e.g. {missing[0]}")
    return problems


def check_pagerank_output(out_dir: str, titles: list[str], ref: np.ndarray) -> list[str]:
    """The written ``url \\t rank`` file against the reference ranks."""
    try:
        got = [(u, float(r)) for u, r in read_kv_output(out_dir)]
    except (OSError, ValueError) as e:
        return [f"unreadable output: {e}"]
    return check_ranked(got, dict(zip(titles, ref.tolist())), None)


def reference_scores(truth, word_ids: list[int]) -> dict[str, float]:
    """TF-IDF search scores (TFIDF$Reduce, Search$Reduce): per document,
    the sum over matched query terms of ``(1 + log10 count) * log10(1 +
    N / df)``, N counting empty documents too."""
    scores: dict[int, float] = {}
    for w in dict.fromkeys(word_ids):
        docs, counts = truth.postings(w)
        if len(docs) == 0:
            continue
        idf = math.log10(1.0 + truth.n_docs / len(docs))
        for doc, c in zip(docs.tolist(), counts.tolist()):
            scores[doc] = scores.get(doc, 0.0) + (1.0 + math.log10(c)) * idf
    return {truth.doc_names[d]: s for d, s in scores.items()}


def check_search_output(out_dir: str, want: dict[str, float], k: int | None) -> list[str]:
    """The written ``doc \\t score`` file against the reference scores."""
    try:
        got = [(doc, float(s)) for doc, s in read_kv_output(out_dir)]
    except (OSError, ValueError) as e:
        return [f"unreadable output: {e}"]
    return check_ranked(got, want, k)
