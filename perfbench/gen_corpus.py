"""Seeded near-duplicate corpus generator.

Documents are random word sequences over a fixed seeded vocabulary.  A
planted cluster is one base document plus copies that each change a few
words, which keeps every copy's character-3-shingle Jaccard to the base far
above the 0.7 threshold.  A few hot clusters hold many copies.  All other
documents are singletons drawn independently, far below the threshold.

``Corpus.clusters`` is the ground truth: the set of doc ids of each
planted cluster of two or more documents.  Same seed, same documents.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

VOCAB_SIZE = 3000
WORDS_PER_DOC = (60, 120)
EDITS_PER_COPY = 2  # words replaced in each near-duplicate copy


@dataclass(frozen=True)
class Corpus:
    docs: list[tuple[int, str]]  # (doc_id, text)
    clusters: list[frozenset[int]]  # planted clusters, size >= 2


def _vocab(rng: random.Random) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < VOCAB_SIZE:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    return sorted(words)


def generate(
    seed: int,
    *,
    docs: int,
    cluster_share: float,
    hot_clusters: int,
    hot_size: int,
    max_size: int,
) -> Corpus:
    """``docs`` documents; about ``cluster_share`` of them sit in planted
    clusters: ``hot_clusters`` of ``hot_size`` members, the rest of 2, 3, ...
    ``max_size`` members in turn.  Doc ids are shuffled so cluster members are not
    adjacent."""
    rng = random.Random(f"corpus/{seed}")
    vocab = _vocab(rng)

    def base() -> list[str]:
        return [rng.choice(vocab) for _ in range(rng.randint(*WORDS_PER_DOC))]

    def copy(words: list[str]) -> list[str]:
        out = list(words)
        for _ in range(EDITS_PER_COPY):
            out[rng.randrange(len(out))] = rng.choice(vocab)
        return out

    groups: list[list[list[str]]] = []
    budget = int(docs * cluster_share)
    # cluster sizes are fixed by the arguments, not drawn: seeds change the
    # text and the ids, never the amount of work
    sizes = [hot_size] * hot_clusters
    budget -= hot_size * hot_clusters
    size = 2
    while budget >= 2:
        sizes.append(min(budget, size))
        budget -= sizes[-1]
        size = size + 1 if size < max_size else 2
    for n in sizes:
        b = base()
        groups.append([b] + [copy(b) for _ in range(n - 1)])
    while sum(len(g) for g in groups) < docs:
        groups.append([base()])

    ids = list(range(1, docs + 1))
    rng.shuffle(ids)
    it = iter(ids)
    out_docs: list[tuple[int, str]] = []
    clusters: list[frozenset[int]] = []
    for g in groups:
        members = [next(it) for _ in g]
        out_docs.extend((i, " ".join(w)) for i, w in zip(members, g))
        if len(members) > 1:
            clusters.append(frozenset(members))
    out_docs.sort()
    return Corpus(out_docs, clusters)
