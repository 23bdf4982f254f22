"""Seeded input generator for the benchmark.

Everything the program under test receives is made here from one seed:
the same seed gives byte-identical corpora, queries and append batches.

Text model:
  * a vocabulary of random letter-level words (lengths 3-11) — random
    letters keep character 5-gram diversity realistic, so MinHash band
    buckets stay small (a syllable-built vocabulary made every document
    share band buckets);
  * Zipf word frequencies over that vocabulary, interleaved with real
    English stopwords so the Gopher quality gate keeps ordinary docs;
  * lognormal document lengths, several sentences per line.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
# Letter frequencies of English text — makes the random words read
# less like uniform noise without shrinking the 5-gram space much.
LETTER_P = np.array([
    8.2, 1.5, 2.8, 4.3, 12.7, 2.2, 2.0, 6.1, 7.0, 0.2, 0.8, 4.0, 2.4,
    6.7, 7.5, 1.9, 0.1, 6.0, 6.3, 9.1, 2.8, 1.0, 2.4, 0.2, 2.0, 0.1,
])
LETTER_P = LETTER_P / LETTER_P.sum()
STOPWORDS = [
    "the", "of", "and", "to", "with", "that", "be", "have", "in", "is",
    "for", "on", "as", "by", "it", "from", "at", "this", "are", "was",
]
STOP_P = np.array([1.0 / (i + 1) for i in range(len(STOPWORDS))])
STOP_P = STOP_P / STOP_P.sum()
N_SOURCES = 8
VOCAB_SIZE = 20000  # random words drawn before removing repeats and stopwords
ZIPF_S = 1.05  # exponent of the Zipf word frequencies
STOP_FRAC = 0.3  # share of tokens that are stopwords
MEDIAN_WORDS = 150  # median of the lognormal document lengths
FAMILY_SIZE = (2, 4)  # members per planted family, inclusive
NEAR_EDIT_FRAC = 0.03  # share of words replaced in a near-duplicate


@dataclass
class Corpus:
    """Documents plus the ground truth of what was planted in them."""

    docs: list[tuple[int, str, str]]  # (doc_id, source, text)
    exact_families: list[list[int]] = field(default_factory=list)
    near_families: list[list[int]] = field(default_factory=list)
    low_quality: list[int] = field(default_factory=list)

    @property
    def planted_dups(self) -> list[int]:
        """Ids a perfect curation removes: every family member but the
        smallest id (the canonical survivor)."""
        out = []
        for fam in self.exact_families + self.near_families:
            out.extend(sorted(fam)[1:])
        return out

    @property
    def text_bytes(self) -> int:
        return sum(len(t.encode()) for _, _, t in self.docs)


class TextModel:
    """One seed's vocabulary; `rng` draws the documents. Every corpus of
    a seed shares the vocabulary, so append batches and query sets
    read like the corpus they meet."""

    def __init__(self, seed: int, rng: np.random.Generator):
        self.rng = rng
        vrng = np.random.default_rng([seed, 0])
        lens = vrng.integers(3, 12, size=VOCAB_SIZE)
        letters = "".join(vrng.choice(LETTERS, size=int(lens.sum()), p=LETTER_P))
        ends = np.cumsum(lens)
        out = list(dict.fromkeys(
            letters[e - n:e] for e, n in zip(ends.tolist(), lens.tolist())
        ))
        out = [w for w in out if w not in STOPWORDS]
        self.vocab = np.array(out)
        ranks = np.arange(1, len(out) + 1, dtype=np.float64)
        p = ranks ** -ZIPF_S
        self.vocab_p = p / p.sum()

    def words(self, n: int) -> list[str]:
        rng = self.rng
        content = rng.choice(self.vocab, size=n, p=self.vocab_p)
        stops = rng.choice(np.array(STOPWORDS), size=n, p=STOP_P)
        is_stop = rng.random(n) < STOP_FRAC
        return [str(s) if f else str(c) for c, s, f in zip(content, stops, is_stop)]

    def text(self, n_words: int) -> str:
        """Sentences of 6-18 words, 3-6 sentences per line."""
        rng = self.rng
        ws = self.words(n_words)
        sentences, i = [], 0
        while i < len(ws):
            j = i + int(rng.integers(6, 19))
            s = " ".join(ws[i:j])
            sentences.append(s[:1].upper() + s[1:] + ".")
            i = j
        lines, i = [], 0
        while i < len(sentences):
            j = i + int(rng.integers(3, 7))
            lines.append(" ".join(sentences[i:j]))
            i = j
        return "\n".join(lines)

    def doc_len(self) -> int:
        n = int(self.rng.lognormal(np.log(MEDIAN_WORDS), 0.5))
        return int(np.clip(n, 60, MEDIAN_WORDS * 6))

    def near_copy(self, text: str) -> str:
        """Replace ~NEAR_EDIT_FRAC of the words with fresh vocabulary words."""
        toks = text.split(" ")
        n = max(1, int(len(toks) * NEAR_EDIT_FRAC))
        pos = self.rng.choice(len(toks), size=n, replace=False)
        fresh = self.words(n)
        for p, w in zip(pos, fresh):
            toks[int(p)] = w
        return " ".join(toks)

    def junk(self) -> str:
        """A document the Gopher gate must drop: short, symbol-heavy
        bullet lines."""
        rng = self.rng
        lines = []
        for _ in range(int(rng.integers(3, 8))):
            lines.append("- #" + " #".join(self.words(int(rng.integers(2, 5)))) + " ...")
        return "\n".join(lines)


def _source(rng: np.random.Generator) -> str:
    return f"src{int(rng.integers(0, N_SOURCES))}"


def make_corpus(seed: int, n_docs: int, *, id_start: int = 0,
                exact_families: int = 0, near_families: int = 0,
                low_quality: int = 0, salt: int = 0) -> Corpus:
    """`n_docs` documents in total, of which the planted families and
    low-quality docs are a part. Ids are `id_start..id_start+n_docs-1`,
    shuffled so families are not contiguous."""
    rng = np.random.default_rng([seed, 1, salt])
    tm = TextModel(seed, rng)
    ids = (np.arange(n_docs) + id_start)[rng.permutation(n_docs)].tolist()
    docs: list[tuple[int, str, str]] = []
    corpus = Corpus(docs)

    def take() -> int:
        return int(ids.pop())

    for kind, count in (("exact", exact_families), ("near", near_families)):
        for _ in range(count):
            size = int(rng.integers(FAMILY_SIZE[0], FAMILY_SIZE[1] + 1))
            base = tm.text(tm.doc_len())
            fam = []
            for m in range(size):
                i = take()
                text = base if (kind == "exact" or m == 0) else tm.near_copy(base)
                docs.append((i, _source(rng), text))
                fam.append(i)
            (corpus.exact_families if kind == "exact" else corpus.near_families).append(fam)
    for _ in range(low_quality):
        i = take()
        docs.append((i, _source(rng), tm.junk()))
        corpus.low_quality.append(i)
    while ids:
        docs.append((take(), _source(rng), tm.text(tm.doc_len())))
    docs.sort()
    return corpus


def make_queries(seed: int, corpus: Corpus, n: int, *, short: bool,
                 salt: int = 0) -> list[str]:
    """Queries cut from corpus text: 3 words (`short`, the auto-hybrid
    BM25 path, which takes queries of at most 3 words) or 8-20 words
    (vector-only). Short queries all have 3 words so that every one
    reads the same number of postings buckets at most."""
    rng = np.random.default_rng([seed, 7919, salt])
    out = []
    while len(out) < n:
        _, _, text = corpus.docs[int(rng.integers(0, len(corpus.docs)))]
        toks = text.replace("\n", " ").replace(".", "").lower().split()
        m = 3 if short else int(rng.integers(8, 21))
        if len(toks) < m:
            continue
        i = int(rng.integers(0, len(toks) - m + 1))
        q = " ".join(toks[i:i + m])
        if short and all(t in STOPWORDS for t in q.split()):
            continue
        out.append(q)
    return out
