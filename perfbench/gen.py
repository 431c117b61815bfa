"""Seeded corpus and query-stream generator owned by the benchmark.

Imports no program code, so a change to the engine can never change the
benchmark's inputs. The corpus is shaped like a crawl of skewed web sites:

- pages belong to sites of ``SITE_PAGES`` contiguous ids; urls sort by
  site, so the index's dense doc ids (and its posting blocks) keep site
  locality;
- each site has a topic (a ``TOPIC_TERMS``-word slice of the vocabulary),
  a log-normal length multiplier and a ``SPAM_RATE`` chance of being a
  spam farm that repeats 8 focus words of its topic;
- a normal page draws 60 % of its words from its site topic and the rest
  from a Zipf(1.1) background over the whole vocabulary;
- every page carries one token of its own (document frequency 1).

Vocabulary words are made of consonant-vowel-consonant syllables, so a
one-letter typo of a word is out of vocabulary yet within the Indel
similarity threshold of fuzzy expansion.

Every function here is a pure function of its arguments.
"""

from __future__ import annotations

import math

import numpy as np

N_WORDS = 2000
TOPIC_TERMS = 32
SITE_PAGES = 512
SPAM_RATE = 0.02
ZIPF_S = 1.1
TOPIC_SHARE = 0.6

# query streams
HEAD_POOL = 400  # serve_head draws from the HEAD_POOL highest-df words
TAIL_COLD = 0.25  # share of serve_tail queries that bring a new pair
TAIL_RARE = 200  # serve_tail draws its word from the TAIL_RARE lowest-df words
TAIL_ZIPF_S = 1.2  # skew of serve_tail's repeats over earlier pairs
TYPO_EVERY = 5  # every TYPO_EVERY-th spark query has a misspelled word

_CONS = "bcdfghjklmnprstvz"
_VOWELS = "aeiou"


def _rng(*key: int) -> np.random.Generator:
    return np.random.default_rng([int(k) for k in key])


def vocabulary(corpus_seed: int) -> list[str]:
    """``N_WORDS`` distinct words of two or three CVC syllables."""
    rng = _rng(corpus_seed, 1)
    words: dict[str, None] = {}
    while len(words) < N_WORDS:
        n_syl = 2 + int(rng.integers(0, 2))
        w = "".join(
            _CONS[rng.integers(len(_CONS))] + _VOWELS[rng.integers(len(_VOWELS))] + _CONS[rng.integers(len(_CONS))]
            for _ in range(n_syl)
        )
        words.setdefault(w)
    return list(words)


def page_token(page_id: int) -> str:
    """The document-frequency-1 token of one page."""
    return f"pg{page_id:07d}q"


def page_url(page_id: int) -> str:
    return f"https://site{page_id // SITE_PAGES:05d}.example/{page_id:08d}.html"


def _zipf_p(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def corpus(corpus_seed: int, n_pages: int) -> tuple[list[str], list[str], list[np.ndarray]]:
    """(urls, texts, word ids per page) for the first ``n_pages`` pages.

    A page depends only on ``(corpus_seed, page_id)``, so a smaller corpus
    is a prefix of a larger one. Word ids index ``vocabulary(corpus_seed)``.
    """
    vocab = np.array(vocabulary(corpus_seed))
    zp = _zipf_p(N_WORDS, ZIPF_S)
    urls, texts, ids = [], [], []
    sites: dict[int, tuple] = {}
    for pid in range(n_pages):
        site = pid // SITE_PAGES
        if site not in sites:
            srng = _rng(corpus_seed, 2, site)
            sites[site] = (
                int(srng.integers(0, N_WORDS // TOPIC_TERMS)) * TOPIC_TERMS,
                float(math.exp(srng.normal(0.0, 0.8))),
                bool(srng.random() < SPAM_RATE),
            )
        base, len_mult, spam = sites[site]
        rng = _rng(corpus_seed, 3, pid)
        if spam:
            focus = base + rng.choice(TOPIC_TERMS, size=8, replace=False)
            w = focus[rng.integers(0, 8, size=300)]
        else:
            length = max(20, int(rng.lognormal(math.log(250.0 * len_mult), 0.4)))
            n_topic = int(length * TOPIC_SHARE)
            w = np.concatenate(
                [base + rng.integers(0, TOPIC_TERMS, size=n_topic), rng.choice(N_WORDS, size=length - n_topic, p=zp)]
            )
            rng.shuffle(w)
        urls.append(page_url(pid))
        texts.append(page_token(pid) + " " + " ".join(vocab[w]))
        ids.append(w)
    return urls, texts, ids


def document_frequencies(ids: list[np.ndarray]) -> np.ndarray:
    """df per vocabulary word id over the given pages."""
    df = np.zeros(N_WORDS, dtype=np.int64)
    for w in ids:
        df[np.unique(w)] += 1
    return df


def _typo(word: str, rng: np.random.Generator, known: set[str]) -> str:
    """One interior letter deleted or doubled: out of vocabulary, and at
    Indel similarity >= 80 to the word it came from."""
    for _ in range(50):
        i = 1 + int(rng.integers(len(word) - 2))
        t = word[:i] + word[i + 1 :] if rng.random() < 0.5 else word[:i] + word[i] + word[i:]
        if t not in known:
            return t
    raise ValueError(f"no out-of-vocabulary typo for {word!r}")


def head_queries(seed: int, vocab: list[str], df: np.ndarray, n: int) -> list[str]:
    """3-word queries drawn uniformly from the ``HEAD_POOL`` highest-df words."""
    top = np.argsort(-df, kind="stable")[:HEAD_POOL]
    rng = _rng(seed, 10)
    return [" ".join(vocab[i] for i in rng.choice(top, size=3, replace=False)) for _ in range(n)]


def tail_queries(seed: int, vocab: list[str], df: np.ndarray, n_pages: int, n: int) -> list[str]:
    """2-word queries: one page token plus one of the ``TAIL_RARE``
    lowest-df words. Exactly ``TAIL_COLD * n`` queries bring a pair not
    seen before (its page token is always new); every other query repeats
    an earlier pair, drawn Zipf(``TAIL_ZIPF_S``) by order of first
    appearance. So a pass over the stream from a fresh reader makes the
    same number of cold loads for every seed."""
    rng = _rng(seed, 11)
    n_new = max(1, round(TAIL_COLD * n))
    rare_ids = np.argsort(df, kind="stable")[:TAIL_RARE]
    pages = rng.choice(n_pages, size=n_new, replace=False)
    words = rng.choice(rare_ids, size=n_new)
    pairs = [f"{page_token(int(p))} {vocab[int(w)]}" for p, w in zip(pages, words)]
    is_new = np.zeros(n, dtype=bool)
    is_new[0] = True
    is_new[1 + rng.choice(n - 1, size=n_new - 1, replace=False)] = True
    out: list[str] = []
    seen = 0
    for new in is_new:
        if new:
            seen += 1
            out.append(pairs[seen - 1])
        else:
            out.append(pairs[int(rng.choice(seen, p=_zipf_p(seen, TAIL_ZIPF_S)))])
    return out


def spark_queries(seed: int, vocab: list[str], df: np.ndarray, n: int) -> list[str]:
    """2-word queries over mid-df words; every ``TYPO_EVERY``-th query has
    one misspelled word, so the median stays on clean queries."""
    rng = _rng(seed, 12)
    order = np.argsort(-df, kind="stable")
    mid = order[len(order) // 10 : len(order) // 2]
    known = set(vocab)
    out = []
    for i in range(n):
        a, b = (vocab[int(j)] for j in rng.choice(mid, size=2, replace=False))
        if i % TYPO_EVERY == TYPO_EVERY - 1:
            a = _typo(a, rng, known)
        out.append(f"{a} {b}")
    return out
