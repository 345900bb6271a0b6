"""Seeded inputs for the benchmark: gazetteer, corpus and query list.

Everything here is a pure function of the seed and the size arguments, so
the same seed gives byte-identical inputs (``digest``). The program under
test only ever sees the generated data.

Shape of the corpus:

- a gazetteer of ``n_entities`` single-token surface forms (capitalized
  pseudo-words, so they never collide with the lowercase filler vocabulary),
  each with one of a few NER labels;
- ``n_docs`` documents of ``min_words``..``max_words`` words, where each word
  is an entity with probability ``entity_rate``, drawn Zipf(``zipf_s``) over
  a seed-dependent ranking of the gazetteer, and filler otherwise;
- one hot entity planted in about ``hot_share`` of the documents (the skewed
  variant of the documents fixture: one surface form in ~30% of docs).
"""

from __future__ import annotations

import bisect
import hashlib
import json
import random
from dataclasses import dataclass

LABELS = ("person", "organization", "technology", "place", "system", "resource")
_ONSETS = ("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z")
_VOWELS = ("a", "e", "i", "o", "u")


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int
    n_entities: int = 2000
    min_words: int = 150
    max_words: int = 450
    entity_rate: float = 0.06
    zipf_s: float = 1.2
    hot_share: float = 0.3
    n_filler: int = 600
    n_queries: int = 12


@dataclass(frozen=True)
class Inputs:
    spec: CorpusSpec
    seed: int
    gazetteer: tuple[tuple[str, str], ...]
    hot_entity: str
    docs: tuple[tuple[int, str], ...]  # (raw doc id, text)
    queries: tuple[str, ...]

    def digest(self) -> str:
        h = hashlib.sha256()
        h.update(json.dumps([self.gazetteer, self.docs, self.queries]).encode())
        return h.hexdigest()

    def oracle_docs(self) -> list[tuple[str, str]]:
        """Doc ids as ``synthesize_spans`` mints them (``doc_<raw id>``)."""
        return [(f"doc_{i}", t) for i, t in self.docs]

    def properties(self) -> dict:
        gaz = dict(self.gazetteer)
        lens, seen, hot_docs = [], set(), 0
        for _, text in self.docs:
            words = text.split(" ")
            lens.append(len(words))
            ents = {w for w in words if w in gaz}
            seen |= ents
            hot_docs += self.hot_entity in ents
        return {
            "seed": self.seed,
            "digest": self.digest(),
            "docs": len(self.docs),
            "words_per_doc_mean": round(sum(lens) / len(lens), 1),
            "words_per_doc_min": min(lens),
            "words_per_doc_max": max(lens),
            "gazetteer_size": len(self.gazetteer),
            "distinct_entities": len(seen),
            "hot_entity": self.hot_entity,
            "hot_entity_doc_share": round(hot_docs / len(self.docs), 4),
            "entity_rate": self.spec.entity_rate,
            "zipf_s": self.spec.zipf_s,
            "queries": len(self.queries),
            "input_text_bytes": sum(len(t.encode()) for _, t in self.docs),
        }


def _pseudo_words(rng: random.Random, n: int, syllables: int, taken: set[str]) -> list[str]:
    out: list[str] = []
    while len(out) < n:
        w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(syllables))
        if w not in taken:
            taken.add(w)
            out.append(w)
    return out


def generate(spec: CorpusSpec, seed: int) -> Inputs:
    rng = random.Random(seed)
    taken: set[str] = set()
    entities = [w.capitalize() for w in _pseudo_words(rng, spec.n_entities, 3, taken)]
    filler = _pseudo_words(rng, spec.n_filler, 2, taken)
    gazetteer = tuple((e, LABELS[rng.randrange(len(LABELS))]) for e in entities)

    # Zipf over a seed-dependent ranking; the hot entity sits outside the
    # head of the ranking so the skew is its own, not Zipf's
    ranking = entities[:]
    rng.shuffle(ranking)
    cum, total = [], 0.0
    for r in range(1, len(ranking) + 1):
        total += r ** -spec.zipf_s
        cum.append(total)
    hot = ranking[len(ranking) // 2]

    def entity() -> str:
        return ranking[min(bisect.bisect(cum, rng.random() * total), len(ranking) - 1)]

    docs = []
    for i in range(spec.n_docs):
        n = rng.randint(spec.min_words, spec.max_words)
        words = [
            entity() if rng.random() < spec.entity_rate else filler[rng.randrange(len(filler))]
            for _ in range(n)
        ]
        if rng.random() < spec.hot_share:
            words[rng.randrange(n)] = hot
        docs.append((i, " ".join(words)))

    queries = []
    for _ in range(spec.n_queries):
        a, b = entity(), entity()
        f1, f2 = filler[rng.randrange(len(filler))], filler[rng.randrange(len(filler))]
        queries.append(f"how is {a} related to {b} in {f1} {f2}")
    return Inputs(spec, seed, gazetteer, hot, tuple(docs), tuple(queries))
