"""Seeded source-code corpus, query stream and gazetteer for the benchmark.

Everything here is a pure function of the seed, so the same seed gives the
same inputs on any machine. The engine receives only the generated tables;
the generator itself never imports the engine.

Corpus shape (the north-rule schema ``(repo, path, commit, lang, content)``):

* a keyword head (``def``, ``return``, ``public``, ...) drawn with a steep
  Zipf law, so a handful of stopword-grade terms occur in nearly every file;
* identifiers drawn from a Zipf law over ``VOCAB`` ranks, with local reuse
  inside a file (real code repeats the names it defines), which gives BM25
  tf skew and a long tail of rare terms;
* numeric literals;
* planted multi-word phrases, made of words that no other token uses, at
  recorded character offsets.
"""

from __future__ import annotations

import hashlib
import itertools
import math
import re
from collections import Counter
from dataclasses import dataclass

import numpy as np

KEYWORDS = [
    "def", "return", "self", "public", "if", "import", "class", "static",
    "else", "for", "void", "int", "new", "while", "const", "func", "try",
    "var", "except", "struct", "let", "yield", "package", "final",
]

# Identifier parts. Identifiers join 2 or 3 parts with "_", so every
# identifier is one token that contains "_" and can never collide with a
# keyword or with a planted-phrase word.
_PARTS = [
    "get", "set", "user", "name", "count", "item", "list", "map", "node",
    "tree", "file", "path", "read", "write", "buf", "key", "value", "index",
    "size", "len", "data", "conf", "load", "save", "parse", "token", "text",
    "line", "row", "col", "hash", "cache", "pool", "task", "job", "queue",
    "lock", "time", "date", "port", "host", "addr", "msg", "err", "log",
    "test", "mock", "spec",
]

# Planted phrases: their words appear nowhere else in the corpus, so a
# gazetteer name sampled from ordinary text can never overlap them.
PLANTED_PHRASES = [
    "bloom filter probe",
    "skip list tower",
    "trie node split",
    "varint block decode",
    "posting cursor advance",
    "segment merge policy",
    "ranked retrieval cutoff",
    "arena allocator reset",
]

LANGS = ["python", "java", "scala", "c", "go", "js"]
_EXT = {"python": "py", "java": "java", "scala": "scala", "c": "c", "go": "go", "js": "js"}
_SEPS = [" ", " ", " ", "(", ", ", ") ", ".", " = ", ":\n    ", ";\n", "\n"]

VOCAB = 60_000  # identifier ranks the Zipf law draws from
ZIPF_S = 0.6  # identifier Zipf exponent (the fitted one is steeper: keywords and reuse)
KEYWORD_S = 1.3
P_KEYWORD = 0.33
P_LITERAL = 0.07
P_REUSE = 0.25  # chance an identifier slot repeats another name of its file
P_PLANT = 0.25  # share of files that get one planted phrase
MIN_TOKENS, MAX_TOKENS = 30, 400
_WORD = re.compile(r"\w+")


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    c = np.cumsum(w)
    return c / c[-1]


@dataclass
class Corpus:
    rows: list[tuple[str, str, str, str, str]]  # (repo, path, commit, lang, content)
    planted: list[tuple[int, int, int, str]]  # (row index, start, end, phrase)
    identifiers: list[str]  # rank order: identifiers[0] is the most frequent

    @property
    def content_bytes(self) -> int:
        return sum(len(r[4].encode("utf-8")) for r in self.rows)

    def term_counts(self) -> tuple[Counter, Counter, int]:
        """(collection frequency, document frequency, total tokens), with
        the benchmark's own tokenizer: generated tokens are plain ``\\w+``
        runs, which the engine's analyzer also splits on."""
        cf, df, total = Counter(), Counter(), 0
        for r in self.rows:
            words = _WORD.findall(r[4].lower())
            total += len(words)
            cf.update(words)
            df.update(set(words))
        return cf, df, total


def make_corpus(seed: int, n_files: int) -> Corpus:
    rng = np.random.default_rng([seed, 1])
    combos = ["_".join(p) for p in itertools.product(_PARTS, repeat=2)]
    combos += ["_".join(p) for p in itertools.product(_PARTS, repeat=3)]
    order = rng.permutation(len(combos))[:VOCAB]
    identifiers = [combos[i] for i in order]
    ident_cdf = _zipf_cdf(VOCAB, ZIPF_S)
    kw_cdf = _zipf_cdf(len(KEYWORDS), KEYWORD_S)
    lit_cdf = _zipf_cdf(100, 1.2)

    rows, planted = [], []
    for i in range(n_files):
        n = int(rng.integers(MIN_TOKENS, MAX_TOKENS + 1))
        kind = rng.random(n)
        u = rng.random(n)
        tokens = np.empty(n, dtype=object)
        kw = kind < P_KEYWORD
        lit = (kind >= P_KEYWORD) & (kind < P_KEYWORD + P_LITERAL)
        ident = ~(kw | lit)
        tokens[kw] = [KEYWORDS[k] for k in np.searchsorted(kw_cdf, u[kw])]
        tokens[lit] = [str(k) for k in np.searchsorted(lit_cdf, u[lit])]
        fresh = [identifiers[k] for k in np.searchsorted(ident_cdf, u[ident])]
        # local reuse: some identifier slots repeat a name the file already uses
        reuse = rng.random(len(fresh)) < P_REUSE
        picks = rng.integers(0, max(1, len(fresh)), len(fresh))
        tokens[ident] = [
            fresh[p] if r else f for f, r, p in zip(fresh, reuse, picks)
        ]
        seps = [_SEPS[k] for k in rng.integers(0, len(_SEPS), n)]
        plant_at = int(rng.integers(0, n)) if rng.random() < P_PLANT else -1
        phrase = PLANTED_PHRASES[int(rng.integers(0, len(PLANTED_PHRASES)))]
        body = [t + s for t, s in zip(tokens.tolist(), seps)]
        content = "".join(body)
        if plant_at >= 0:
            head = "".join(body[:plant_at]) + "\n# "
            planted.append((i, len(head), len(head) + len(phrase), phrase))
            content = head + phrase + "\n" + "".join(body[plant_at:])
        lang = LANGS[i % len(LANGS)]
        repo = f"org{i % 13}/repo{i % 97}"
        path = f"src/mod{i % 31}/file{i}.{_EXT[lang]}"
        commit = hashlib.sha1(f"{seed}:{i}".encode()).hexdigest()
        rows.append((repo, path, commit, lang, content))
    return Corpus(rows=rows, planted=planted, identifiers=identifiers)


def make_queries(seed: int, corpus: Corpus, n: int) -> list[str]:
    """A Zipf query stream of 1-4 terms per query.

    Each term is an identifier drawn by the corpus's own Zipf law, or, one
    time in eight, a keyword, so head terms with corpus-sized posting lists
    and tail terms with a handful of postings both occur."""
    rng = np.random.default_rng([seed, 2])
    ident_cdf = _zipf_cdf(VOCAB, ZIPF_S)
    out = []
    for _ in range(n):
        terms = []
        for _ in range(int(rng.integers(1, 5))):
            if rng.random() < 0.125:
                terms.append(KEYWORDS[int(rng.integers(0, 8))])
            else:
                terms.append(corpus.identifiers[int(np.searchsorted(ident_cdf, rng.random()))])
        out.append(" ".join(terms))
    return out


def make_gazetteer(seed: int, corpus: Corpus, n_names: int) -> list[tuple[str, str]]:
    """(id, name) rows: word n-grams (2-3 words) cut from the corpus so tags
    are found, names that occur nowhere, and every planted phrase."""
    rng = np.random.default_rng([seed, 3])
    phrase_words = {w for p in PLANTED_PHRASES for w in p.split()}
    names: set[str] = set()
    n_found = (n_names * 3) // 4
    attempts = 0
    while len(names) < n_found and attempts < n_found * 20:
        attempts += 1
        text = corpus.rows[int(rng.integers(0, len(corpus.rows)))][4]
        words = _WORD.findall(text.lower())
        k = int(rng.integers(2, 4))
        if len(words) <= k:
            continue
        at = int(rng.integers(0, len(words) - k))
        gram = words[at : at + k]
        if phrase_words.intersection(gram):
            continue
        names.add(" ".join(gram))
    while len(names) < n_names:
        names.add(f"absent_{int(rng.integers(0, 10**9))} name")
    out = sorted(names) + PLANTED_PHRASES
    return [(f"n{j:06d}", nm) for j, nm in enumerate(out)]


def fitted_zipf_exponent(counts) -> float:
    """Least-squares slope of log(frequency) on log(rank) over the ranks that
    occur at least five times (the noisy singleton tail is left out)."""
    f = np.sort(np.asarray(list(counts), dtype=np.float64))[::-1]
    f = f[f >= 5]
    if len(f) < 3:
        return math.nan
    x = np.log(np.arange(1, len(f) + 1))
    slope = np.polyfit(x, np.log(f), 1)[0]
    return float(-slope)
