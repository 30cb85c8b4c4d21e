"""Seeded query mix for the engine benchmark.

The mix is built from the corpus vocabulary (``sources.pages.build_vocab``,
whose index is the Zipf rank) plus the frozen 40-query reference set
(``sources.queryset``).  It is laid out in *rounds*: each round holds one
query of every class, so any prefix of the list — which is what a
time-bounded closed loop consumes — has close to the same class shares.
The same seed always gives the same list; the engine only ever sees the
generated strings.
"""

from __future__ import annotations

import hashlib
import random
import re

CLASSES = ("frozen", "head", "tail", "and", "or", "phrase", "not", "prefix",
           "stopword")

# Zipf-rank windows of the 20k-term vocabulary.  Head terms occur in most
# buckets of a 1k-doc corpus; tail terms occur in a handful of docs.
HEAD_RANKS = (0, 300)
TAIL_RANKS = (1000, 4000)

_WORD = re.compile(r"[a-z][a-z0-9]*")


def _content_terms(vocab: list[str], lo: int, hi: int) -> list[str]:
    """Vocabulary terms in [lo, hi) that are plain words and survive the
    engine's stopword/stemming pipeline (so every query has a live leaf)."""
    from search_engine_spark.functions.stemmer import stem

    return [w for w in vocab[lo:hi] if _WORD.fullmatch(w) and stem(w)]


class QueryMix:
    """``queries[i]`` has class ``classes[i]``; ``rounds`` rounds of
    ``len(CLASSES)`` queries each."""

    def __init__(self, seed: int, rounds: int, distinct: bool = False):
        from search_engine_spark.functions.stemmer import STOPWORDS
        from search_engine_spark.sources.pages import build_vocab
        from search_engine_spark.sources.queryset import QUERY_STRINGS

        rng = random.Random(f"perfbench-mix:{seed}")
        vocab = build_vocab()
        head = _content_terms(vocab, *HEAD_RANKS)
        tail = _content_terms(vocab, *TAIL_RANKS)
        words = [w for w in head if not re.fullmatch(r"w\d+", w)]
        stop = sorted(STOPWORDS)

        frozen = list(QUERY_STRINGS)
        rng.shuffle(frozen)
        gens = {
            "head": lambda: rng.choice(head),
            "tail": lambda: rng.choice(tail),
            "and": lambda: " ".join(rng.sample(head, 2)),
            "or": lambda: " | ".join(rng.sample(head, rng.randint(2, 3))),
            "phrase": lambda: '"%s"' % " ".join(rng.sample(head, 2)),
            "not": lambda: "%s - %s" % tuple(rng.sample(head, 2)),
            "prefix": lambda: rng.choice(words)[:rng.randint(3, 5)] + "*",
            "stopword": lambda: " ".join(rng.sample(stop, rng.randint(1, 3))),
        }
        seen: set[str] = set(frozen)
        self.queries: list[str] = []
        self.classes: list[str] = []
        for r in range(rounds):
            for c in CLASSES:
                if c == "frozen":
                    if distinct and r >= len(frozen):
                        continue
                    q = frozen[r % len(frozen)]
                else:
                    q = gens[c]()
                    # distinct mode: redraw duplicates (bounded, then skip)
                    for _ in range(50):
                        if not distinct or q not in seen:
                            break
                        q = gens[c]()
                    else:
                        continue
                seen.add(q)
                self.queries.append(q)
                self.classes.append(c)

    def shares(self) -> dict[str, float]:
        n = len(self.classes)
        return {c: self.classes.count(c) / n for c in CLASSES}

    def fingerprint(self) -> str:
        h = hashlib.sha256()
        for q, c in zip(self.queries, self.classes):
            h.update(f"{c}\t{q}\n".encode())
        return h.hexdigest()[:16]
