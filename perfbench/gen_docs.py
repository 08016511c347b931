"""Seeded JSONL document shards with planted near-duplicates for the
ingest traffic of the ``catalog_ingest`` workload.

Documents are random word sequences over a fixed vocabulary, so two
novel documents share almost no word 3-shingles. A near-duplicate is a
copy of a base document with one word replaced (3-shingle Jaccard
about 0.93). Each shard mixes:

- novel documents;
- near-duplicates of documents in the standing registry;
- near-duplicate pairs within the shard (the copy gets the larger id,
  so keep-smallest-id dedup drops the copy).

``expected`` records which ids a correct dedup drops.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np

VOCAB_SIZE = 20_000
DOC_WORDS = (60, 120)


@dataclass
class Shard:
    docs: list[dict]
    novel: set[int] = field(default_factory=set)          # should be kept
    registry_dups: set[int] = field(default_factory=set)  # near-dups of registered docs
    pair_dups: set[int] = field(default_factory=set)      # copies of an in-shard doc

    @property
    def planted_dups(self) -> set[int]:
        return self.registry_dups | self.pair_dups


def _words(rng: np.random.Generator, n_docs: int) -> list[np.ndarray]:
    lengths = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, n_docs)
    return [rng.integers(0, VOCAB_SIZE, k) for k in lengths]


def _near_dup(rng: np.random.Generator, words: np.ndarray) -> np.ndarray:
    out = words.copy()
    # pick a position away from the ends so exactly three shingles change
    pos = rng.integers(2, len(out) - 2)
    out[pos] = (out[pos] + 1 + rng.integers(0, VOCAB_SIZE - 1)) % VOCAB_SIZE
    return out


def _text(words: np.ndarray) -> str:
    return " ".join(f"w{w}" for w in words)


class DocStream:
    """Deterministic source of the standing corpus and later shards."""

    def __init__(self, seed: int):
        self._rng = np.random.default_rng(seed)
        self._next_id = 0
        self.registered: list[np.ndarray] = []   # word arrays of base docs

    def _take_ids(self, n: int) -> range:
        ids = range(self._next_id, self._next_id + n)
        self._next_id += n
        return ids

    def base_corpus(self, n_docs: int) -> Shard:
        """Distinct novel documents that seed the standing registry."""
        words = _words(self._rng, n_docs)
        self.registered.extend(words)
        ids = self._take_ids(n_docs)
        return Shard(
            docs=[{"doc_id": i, "text": _text(w)} for i, w in zip(ids, words)],
            novel=set(ids),
        )

    def shard(self, n_docs: int, dup_frac: float) -> Shard:
        """``n_docs`` documents; ``dup_frac`` of them are planted
        duplicates, split evenly between registry and in-shard dups."""
        n_dups = int(round(n_docs * dup_frac))
        n_reg = n_dups // 2
        n_pairs = n_dups - n_reg
        n_novel = n_docs - n_dups - n_pairs     # each pair also adds a novel base
        rng = self._rng
        entries: list[tuple[np.ndarray, str]] = []
        for w in _words(rng, n_novel):
            entries.append((w, "novel"))
        for j in rng.integers(0, len(self.registered), n_reg):
            entries.append((_near_dup(rng, self.registered[j]), "registry"))
        order = rng.permutation(len(entries))
        entries = [entries[i] for i in order]
        # in-shard pairs: base first (smaller id), copy appended later
        pair_bases = _words(rng, n_pairs)
        entries += [(w, "novel") for w in pair_bases]
        entries += [(_near_dup(rng, w), "pair") for w in pair_bases]
        ids = self._take_ids(len(entries))
        shard = Shard(docs=[])
        kinds = {"novel": shard.novel, "registry": shard.registry_dups,
                 "pair": shard.pair_dups}
        for i, (w, kind) in zip(ids, entries):
            shard.docs.append({"doc_id": i, "text": _text(w)})
            kinds[kind].add(i)
        return shard


def write_jsonl(shard: Shard, path: str) -> None:
    """Write atomically (temp name + rename) so a file-source stream
    never lists a half-written shard."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as fh:
        for doc in shard.docs:
            fh.write(json.dumps(doc) + "\n")
    os.replace(tmp, path)
