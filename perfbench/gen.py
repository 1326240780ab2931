"""Seeded input generators with ground truth.

Everything here is deterministic in ``seed`` and runs in one process
with NumPy only. Each generator writes its files under ``out_dir`` and
returns the ground truth the output checks compare against, plus the
input sizes the result records.
"""

from __future__ import annotations

import os

import numpy as np

_ALPHABET = "abcdefghijklmnopqrstuvwxyz"


def word(i: int) -> str:
    """Vocabulary word ``i``: letters only, so the jar tokenizer keeps it
    whole; distinct ids give distinct words."""
    s = ""
    i += 26 * 27  # every word has at least three letters
    while i:
        i, r = divmod(i, 26)
        s = _ALPHABET[r] + s
    return s


def _zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def _write_lines(path: str, lines: list[str]) -> int:
    data = "".join(line + "\n" for line in lines).encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


# --------------------------------------------------------------- wiki XML


class WikiTruth:
    """Ground truth of one generated wiki dump: the titled pages, their
    link occurrences as page indices (-1 for a red link) and the
    non-empty line count the reference seeds with."""

    def __init__(self, titles, src, dst, n_lines):
        self.titles = titles
        self.src = src
        self.dst = dst
        self.n_lines = n_lines


#: shares of pages without links, of links to missing pages, of links
#: repeating the page's previous link, and of titleless junk lines
DANGLING_SHARE = 0.03
RED_SHARE = 0.05
DUP_SHARE = 0.03
JUNK_SHARE = 0.01
#: Zipf exponents of page popularity (in-degree) and of word frequency
IN_DEGREE_S = 0.8
WORDS_S = 1.0


def make_wiki(
    out_dir: str, seed: int, n_pages: int, links_per_page: float, n_files: int
) -> tuple[WikiTruth, dict]:
    """Wiki-XML page lines, one page per line, across ``n_files`` files.

    In-degree follows a power law. Quirks the reference parser must
    handle, each present on every seed: dangling pages (no links), red
    links (targets with no page), duplicate links on one page, titleless
    junk lines that carry links, whitespace-only lines (counted in the
    seed denominator, not pages), blank lines (not counted),
    ``<text xml:space="preserve">`` tags, pages with two text bodies and
    links written with nested brackets (``[[Pa[[ge]]`` is ``Page``).
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    titles = [f"Page_{i}_{word(i % 9973)}" for i in range(n_pages)]

    # out-degree: lognormal around links_per_page; dangling pages get 0
    outdeg = rng.lognormal(np.log(links_per_page) - 0.5, 1.0, n_pages)
    outdeg = np.maximum(1, np.round(outdeg)).astype(np.int64)
    outdeg[rng.random(n_pages) < DANGLING_SHARE] = 0
    src = np.repeat(np.arange(n_pages, dtype=np.int64), outdeg)
    n_links = len(src)

    # in-degree: power law over a random permutation of the pages
    popularity = rng.permutation(n_pages)
    dst = popularity[
        rng.choice(n_pages, size=n_links, p=_zipf_probs(n_pages, IN_DEGREE_S))
    ].astype(np.int64)
    # duplicate links: copy the previous link of the same page
    dup = (rng.random(n_links) < DUP_SHARE) & (np.r_[False, src[1:] == src[:-1]])
    dup_idx = np.flatnonzero(dup)
    dst[dup_idx] = dst[dup_idx - 1]
    # red links: targets with no page
    red = rng.random(n_links) < RED_SHARE
    dst[red] = -1
    red_names = rng.integers(0, n_pages, n_links)

    nested = rng.random(n_links) < 0.005
    preserve = rng.random(n_pages) < 0.5
    two_bodies = rng.random(n_pages) < 0.05
    filler = [word(int(i)) for i in rng.integers(0, 5000, 64)]

    starts = np.r_[0, np.cumsum(outdeg)]
    page_lines = []
    for p in range(n_pages):
        toks = []
        for j in range(starts[p], starts[p + 1]):
            t = titles[dst[j]] if dst[j] >= 0 else f"Missing_{red_names[j]}"
            if nested[j]:
                t = t[:3] + "[[" + t[3:]
            toks.append(f"{filler[j % 64]} [[{t}]]")
        open_tag = '<text xml:space="preserve">' if preserve[p] else "<text>"
        if two_bodies[p] and len(toks) > 1:
            h = len(toks) // 2
            body = (
                f"{open_tag}{' '.join(toks[:h])}</text>"
                f"<text>{' '.join(toks[h:])}</text>"
            )
        else:
            body = f"{open_tag}{' '.join(toks)} {filler[p % 64]}</text>"
        page_lines.append(f"<page><title>{titles[p]}</title>{body}</page>")

    n_junk = max(1, int(n_pages * JUNK_SHARE))
    junk = [
        f"<page><text>[[{titles[int(t)]}]] orphan</text></page>"
        for t in rng.integers(0, n_pages, n_junk)
    ]
    blank = ["   "] * max(1, n_junk // 4) + [""] * max(1, n_junk // 4)
    lines = page_lines + junk + blank
    order = rng.permutation(len(lines))
    n_lines = len(page_lines) + len(junk) + max(1, n_junk // 4)

    total_bytes = 0
    for f in range(n_files):
        chunk = [lines[i] for i in order[f::n_files]]
        total_bytes += _write_lines(os.path.join(out_dir, f"part-{f:03d}.xml"), chunk)

    truth = WikiTruth(titles, src, dst, n_lines)
    sizes = {
        "pages": n_pages,
        "links": int(n_links),
        "red_links": int(red.sum()),
        "dangling_pages": int((outdeg == 0).sum()),
        "lines": len(lines),
        "files": n_files,
        "bytes": total_bytes,
    }
    return truth, sizes


# --------------------------------------------------------------- documents


class CorpusTruth:
    """Ground truth of a generated corpus: for every (doc, word) pair
    its occurrence count, sorted by word then doc, and the document
    count (empty documents included)."""

    def __init__(self, doc_names, n_docs, words, docs, counts):
        self.doc_names = doc_names
        self.n_docs = n_docs
        self._words = words
        self._docs = docs
        self._counts = counts

    def postings(self, word_id: int) -> tuple[np.ndarray, np.ndarray]:
        """(doc indices, counts) of the documents containing the word."""
        lo = np.searchsorted(self._words, word_id, "left")
        hi = np.searchsorted(self._words, word_id, "right")
        return self._docs[lo:hi], self._counts[lo:hi]


def _doc_texts(rng, n_docs, tokens_per_doc, vocab):
    """Token ids per document plus the rendered text of each document.

    Rendering quirks the jar tokenizer (``\\s*\\b\\s*``, lowercased) must
    undo: capitalised words, punctuation tokens glued to a word, runs of
    spaces and tabs, several lines per document and empty documents.
    """
    lengths = rng.poisson(tokens_per_doc, n_docs)
    lengths[rng.random(n_docs) < 0.005] = 0
    total = int(lengths.sum())
    ids = rng.choice(vocab, size=total, p=_zipf_probs(vocab, WORDS_S))
    doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), lengths)
    words = [word(i) for i in range(vocab)]
    caps = rng.random(total) < 0.05
    punct = rng.random(total) < 0.04
    comma = rng.random(total) < 0.5
    seps = np.where(rng.random(total) < 0.9, " ", np.where(rng.random(total) < 0.5, "  ", "\t"))
    newline = rng.random(total) < 0.03
    texts = []
    n_punct = 0
    pos = 0
    for d in range(n_docs):
        parts = []
        for j in range(pos, pos + lengths[d]):
            w = words[ids[j]]
            if caps[j]:
                w = w.capitalize()
            if punct[j]:
                w += "," if comma[j] else "."
                n_punct += 1
            parts.append(w)
            parts.append("\n" if newline[j] else seps[j])
        pos += lengths[d]
        texts.append("".join(parts[:-1]))
    return ids, doc_of, texts, total + n_punct


def make_corpus(seed: int, n_docs: int, tokens_per_doc: int, vocab: int):
    """Documents drawn from a Zipf vocabulary. Returns the truth, the
    rendered texts and the input sizes (before anything is written)."""
    rng = np.random.default_rng(seed)
    ids, doc_of, texts, n_tokens = _doc_texts(rng, n_docs, tokens_per_doc, vocab)
    key = ids.astype(np.int64) * n_docs + doc_of
    uniq, counts = np.unique(key, return_counts=True)
    names = [f"doc{d:06d}.txt" for d in range(n_docs)]
    truth = CorpusTruth(names, n_docs, uniq // n_docs, uniq % n_docs, counts)
    sizes = {"docs": n_docs, "tokens": int(n_tokens), "vocab": vocab}
    return truth, texts, sizes


def write_doc_files(out_dir: str, truth: CorpusTruth, texts: list[str]) -> dict:
    """One document per file, as the jar's TF-IDF chain reads them."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, body in zip(truth.doc_names, texts):
        data = body.encode("utf-8")
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(data)
        total += len(data)
    return {"files": len(texts), "bytes": total}


def query_terms(seed: int, n_queries: int, vocab: int) -> list[list[int]]:
    """A query stream: 1-4 distinct Zipf-picked word ids per query, so
    hot and cold terms both appear. The term counts cycle 1, 2, 3, 4, so
    every seed's stream has the same mix of query sizes."""
    rng = np.random.default_rng(seed + 7919)
    p = _zipf_probs(vocab, WORDS_S)
    return [
        [int(w) for w in rng.choice(vocab, size=1 + i % 4, replace=False, p=p)]
        for i in range(n_queries)
    ]
