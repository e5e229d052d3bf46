"""Seeded workload inputs: corpus rows and query mixes.

Everything here is a pure function of the seed. The module imports
nothing from the engine, so an engine change cannot change the inputs
the benchmark feeds it.

Corpus shape (the engine's `repo, path, commit, lang, content` rows):
  - snake_case identifiers drawn from a Zipf(1.1) vocabulary;
  - log-uniform token counts between 10 and `max_tokens`;
  - four identifiers present in ~60% of documents (> 50% DF);
  - a header line with English number words (phrase material) and a
    per-version signature token whose document frequency is 1;
  - ~1% verbatim duplicates of the previous document under a new path.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field
from typing import Dict, List, Optional

import numpy as np

N_REPOS = 20
LANGS = ["py", "java", "scala", "go", "js"]
HIGH_DF = ["core_util", "base_ctx", "shared_handler", "main_loop"]
KEYWORDS = ["def", "return", "import", "class", "else", "break", "yield"]
LITERALS = ["0x1f", "3.14", "42", "256", "8080"]
SEPARATORS = [" ", " ", " ", " = ", "(", ") ", "; ", ", ", " -> "]
_STEMS = ("read write parse scan merge flush commit seek token term doc "
          "index query score block heap sort hash byte char buffer stream "
          "field norm stat freq delta pack skip tier shard batch row col "
          "page cache pool lock sync util json http node edge graph tree "
          "list map set queue stack").split()
_SUFFIXES = ("er handler builder writer reader impl helper factory manager "
             "ctx info meta data view proxy codec fmt enc dec buf idx ptr "
             "ref val arg res tmp").split()

_ONES = ("zero one two three four five six seven eight nine ten eleven "
         "twelve thirteen fourteen fifteen sixteen seventeen eighteen "
         "nineteen").split()
_TENS = "zero ten twenty thirty forty fifty sixty seventy eighty ninety".split()

QUERY_KINDS = ["rare", "mid", "high", "and2", "and3", "or2", "mm2of4",
               "not", "phrase"]


def english(i: int) -> str:
    if i < 20:
        return _ONES[i]
    if i < 100:
        return _TENS[i // 10] + ("" if i % 10 == 0 else " " + _ONES[i % 10])
    if i < 1000:
        return (_ONES[i // 100] + " hundred"
                + ("" if i % 100 == 0 else " " + english(i % 100)))
    rest = i % 1000
    head = english(i // 1000) + " thousand"
    return head if rest == 0 else head + " " + english(rest)


def signature(i: int, version: int) -> str:
    """Token unique to version `version` of document `i` (DF 1, or 2
    when the next document duplicates it)."""
    return f"sig{version}x{i}q"


def signature_of(content: str) -> str:
    """The signature token in a document's header line."""
    return content.split("\n", 1)[0].rsplit(" ", 1)[1]


def _vocab(n: int = 4000) -> List[str]:
    """Identifier vocabulary in Zipf rank order. It is the same for every
    seed, so token lengths, and with them corpus bytes, do not depend on
    the seed; the seed picks which documents hold which tokens."""
    rng = np.random.default_rng(0xC0DE)
    out: List[str] = []
    seen = set(HIGH_DF)
    while len(out) < n:
        a, c = rng.choice(_STEMS, 2)
        b = rng.choice(_SUFFIXES)
        w = f"{a}_{b}" if rng.random() < 0.5 else f"{a}_{c}_{b}"
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


@dataclass
class Corpus:
    """Generated documents plus the per-term DF table the query mix is
    drawn from (computed on the generator's own tokens)."""

    seed: int
    max_tokens: int
    vocab: List[str]
    cdf: np.ndarray
    rows: List[dict] = field(default_factory=list)
    df: Dict[str, int] = field(default_factory=dict)

    def key(self, r: dict):
        return (r["repo"], r["path"], r["commit"])

    def make_row(self, i: int, version: int = 0,
                 length_u: Optional[float] = None) -> dict:
        repo = f"org/repo{i % N_REPOS:03d}"
        lang = LANGS[(i // N_REPOS) % len(LANGS)]
        path = f"src/m{(i // 7) % 13}/f_{i:07d}.{lang}"
        commit = hashlib.sha1(
            f"{self.seed}:{repo}:{path}".encode()).hexdigest()
        return {"repo": repo, "path": path, "commit": commit, "lang": lang,
                "content": self._content(i, version, length_u)}

    def _content(self, i: int, version: int, length_u: Optional[float]):
        rng = np.random.default_rng([self.seed, i, version])
        u = rng.random() if length_u is None else length_u
        n = int(10.0 * (self.max_tokens / 10.0) ** u)
        ids = np.searchsorted(self.cdf, rng.random(n))
        u = rng.random(n)
        seps = rng.integers(len(SEPARATORS), size=n)
        parts = [f"// doc {english(i)} {signature(i, version)}\n"]
        for k, j in enumerate(ids):
            if u[k] < 0.05:
                parts.append(KEYWORDS[k % len(KEYWORDS)] + " ")
            elif u[k] < 0.08:
                parts.append(LITERALS[k % len(LITERALS)] + " ")
            parts.append(self.vocab[j])
            parts.append(SEPARATORS[seps[k]])
            if k % 9 == 8:
                parts.append("\n")
        for h, hid in enumerate(HIGH_DF):
            if rng.random() < 0.6:
                parts.append(f"\n{hid}(init_{h})")
        for w in set(self.vocab[j] for j in ids):
            self.df[w] = self.df.get(w, 0) + 1
        return "".join(parts)


def make_corpus(seed: int, n_docs: int, max_tokens: int = 2000) -> Corpus:
    vocab = _vocab()
    p = np.arange(1, len(vocab) + 1, dtype=np.float64) ** -1.1
    c = Corpus(seed, max_tokens, vocab, np.cumsum(p / p.sum()))
    rng = np.random.default_rng([seed, 0xD0B])
    dup = rng.random(n_docs) < 0.01
    # stratified length quantiles: every seed gets the same length
    # distribution, so corpus bytes (and the work they cause) barely
    # move between seeds
    length_u = (rng.permutation(n_docs) + rng.random(n_docs)) / n_docs
    for i in range(n_docs):
        r = c.make_row(i, length_u=float(length_u[i]))
        if dup[i] and i > 0:
            r["content"] = c.rows[-1]["content"]
        c.rows.append(r)
    return c


def docid_order(rows: List[dict]) -> List[dict]:
    """Rows in engine docID order: dense rank over (repo, path, commit)."""
    return sorted(rows, key=lambda r: (r["repo"], r["path"], r["commit"]))


@dataclass(frozen=True)
class Query:
    kind: str
    text: str
    mode: str = "or"
    mm: int = 0
    exclude: str = ""

    def as_batch_item(self):
        """The `search_many` form: a phrase is a bare string."""
        if self.kind == "phrase":
            return self.text
        return {"query_text": self.text, "mode": self.mode, "mm": self.mm,
                "exclude": self.exclude}


class QueryMix:
    """Seeded draws over QUERY_KINDS in shuffled blocks that hold every
    kind once, so each run's mix has near-equal kind shares. Terms are
    bucketed by their DF share in the generated corpus."""

    def __init__(self, df: Dict[str, int], seed: int, n_docs: int):
        self.rng = np.random.default_rng([seed, 0x0E1])
        self.n_docs = n_docs
        by_share = sorted(df.items())
        self.mid = [t for t, d in by_share
                    if 0.01 * n_docs <= d <= 0.10 * n_docs]
        self.high = HIGH_DF + [t for t, d in by_share if d > 0.3 * n_docs]
        if len(self.mid) < 8:
            raise ValueError("corpus too small for the mid-DF query kinds")
        self._block: List[str] = []

    def _pick(self, pool: List[str], n: int) -> List[str]:
        return [pool[j] for j in self.rng.choice(len(pool), n, replace=False)]

    def draw(self) -> Query:
        if not self._block:
            self._block = [QUERY_KINDS[j] for j in
                           self.rng.permutation(len(QUERY_KINDS))]
        kind = self._block.pop()
        if kind == "rare":
            i = int(self.rng.integers(self.n_docs))
            return Query(kind, signature(i, 0))
        if kind == "mid":
            return Query(kind, self._pick(self.mid, 1)[0])
        if kind == "high":
            return Query(kind, self._pick(self.high, 1)[0])
        if kind == "and2":
            return Query(kind, " ".join(self._pick(self.mid, 1)
                                        + self._pick(self.high, 1)), "and")
        if kind == "and3":
            return Query(kind, " ".join(self._pick(self.mid, 1)
                                        + self._pick(self.high, 2)), "and")
        if kind == "or2":
            return Query(kind, " ".join(self._pick(self.mid, 2)))
        if kind == "mm2of4":
            return Query(kind, " ".join(self._pick(self.mid, 4)), mm=2)
        if kind == "not":
            a, b = self._pick(self.mid, 2)
            return Query(kind, a, exclude=b)
        i = int(self.rng.integers(1, self.n_docs))
        words = english(i).split()
        lo = int(self.rng.integers(max(len(words) - 1, 1)))
        return Query(kind, " ".join(words[lo:lo + 2]) if len(words) > 1
                     else f"doc {words[0]}")

    def stream(self, repeat_share: float):
        """Endless query stream in blocks. The first block is one fresh
        query of every kind; each later block adds another such set plus
        enough repeats of earlier fresh queries that `repeat_share` of the
        block repeats, all in seeded order. Yields (query, repeated)."""
        n = len(QUERY_KINDS)
        n_rep = round(n * repeat_share / (1.0 - repeat_share))
        sent: List[Query] = []
        while True:
            fresh = [self.draw() for _ in range(n)]
            block = [(q, False) for q in fresh]
            if sent:
                block += [(sent[int(j)], True) for j in
                          self.rng.choice(len(sent), n_rep, replace=False)]
            sent += fresh
            for j in self.rng.permutation(len(block)):
                yield block[j]


def kind_shares(kinds: List[str], repeats: Optional[List[bool]] = None):
    """Measured share of each query kind (and of repeats) in a run."""
    n = max(len(kinds), 1)
    out = {k: round(kinds.count(k) / n, 4) for k in QUERY_KINDS}
    if repeats is not None:
        out["repeated"] = round(sum(repeats) / n, 4)
    return out
