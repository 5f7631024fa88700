"""Seeded, stationary query stream drawn from the indexed documents.

A query term is drawn the way the corpus itself distributes terms over
documents: pick an indexed document uniformly, then one of its distinct
analyzed terms uniformly.  A term's chance is therefore close to its
document frequency over the index, so Zipf-head code terms (long posting
lists), mid-frequency ``id_N`` identifiers and rare ``uniq_<doc>_<k>``
terms come in the shares the generated corpus gives them
(``corpus.generator``), not in shares chosen here.  Every drawn term is
in the index's vocabulary.

Two properties cannot be read off the corpus and are assumed, not
measured: a query has 1-4 terms, and within a session each term after
the session's first request repeats an earlier term of the session with
probability ``P_REPEAT``.  The term counts are stratified, not drawn
independently: from the start of a session, every four consecutive
queries have 1, 2, 3 and 4 terms in a seeded order, so the mix of short
and long queries (which sets the latency distribution more than
anything else) is the same in every run and every seed, and only the
terms themselves change.

The share of query terms the index has already seen (term-stats cache
hits, ``PhysicalIndex.term_stats_for``) is fixed by construction, not by
run length: queries are sent in sessions against one index object, and
every session starts on a fresh index object, so the measured
fresh-term share is the same in a short run and a long one.
"""

from __future__ import annotations

import numpy as np

from elasticsearch_nlp_classifier_spark.analyzer.chain import get_analyzer

P_REPEAT = 0.5
MAX_TERMS = 4


class QueryStream:
    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 7])
        self.analyzer = get_analyzer("code")
        self.contents: list[str] = []
        self._terms: dict[int, list[str]] = {}
        self.seen: list[str] = []
        self.fresh_terms = 0
        self.total_terms = 0
        self._sizes: list[int] = []

    def add_docs(self, contents) -> None:
        """Make the ``content`` of newly indexed docs drawable."""
        self.contents.extend(contents)

    def new_index(self) -> None:
        """Start a session on a fresh index object (empty stats cache)
        and a new block of term counts."""
        self.seen = []
        self._sizes = []

    def _drawn_term(self) -> str:
        d = int(self.rng.integers(0, len(self.contents)))
        if d not in self._terms:
            self._terms[d] = sorted(set(self.analyzer.tokenize(self.contents[d])))
        terms = self._terms[d]
        return terms[int(self.rng.integers(0, len(terms)))]

    def session(self, n: int) -> list[str]:
        """The ``n`` queries of a session on a fresh index object."""
        self.new_index()
        return [self.next_query() for _ in range(n)]

    def next_query(self) -> str:
        if not self._sizes:
            self._sizes = [int(x) + 1 for x in self.rng.permutation(MAX_TERMS)]
        terms = []
        for _ in range(self._sizes.pop()):
            if self.seen and self.rng.random() < P_REPEAT:
                t = self.seen[int(self.rng.integers(0, len(self.seen)))]
            else:
                t = self._drawn_term()
            self.fresh_terms += t not in self.seen and t not in terms
            self.total_terms += 1
            terms.append(t)
        self.seen.extend(t for t in dict.fromkeys(terms) if t not in self.seen)
        return " ".join(terms)

    @property
    def fresh_share(self) -> float:
        return self.fresh_terms / max(1, self.total_terms)
