"""Seeded workload generator: documents, corpora, upload batches with
planted blocklisted terms and PII, query pools and upsert documents.

Everything here is plain Python + numpy and touches no Spark: the engine
receives only what these functions return. The same seed always yields
byte-identical inputs (``tests/test_gen.py``).

Generated words use the letters a-y only and no digits, so the planted
features cannot appear by accident: blocklisted terms all contain ``z``,
and every PII pattern needs digits.
"""

from __future__ import annotations

from dataclasses import dataclass
from statistics import NormalDist

import numpy as np

LETTERS = "abcdefghijklmnopqrstuvwxy"  # no "z": reserved for blocklist terms
WORDS_PER_LINE = 12


@dataclass(frozen=True)
class Knobs:
    """The named input properties the engine's behaviour depends on."""

    vocab_size: int = 6000
    doc_words_min: int = 20
    doc_words_median: int = 260  # document length: lognormal long tail
    doc_words_sigma: float = 0.6
    doc_words_max: int = 2400
    overlap_share: float = 0.20  # share of an upload copied from the corpus
    reupload_share: float = 0.10  # share of uploads that update a known key
    blocklist_share: float = 0.03  # uploads carrying a blocklisted term
    pii_share: float = 0.05
    zipf_s: float = 1.1  # skew of the serve query pool
    query_pool: int = 300
    filter_selectivities: tuple = (0.001, 0.01, 0.03, 0.1)  # tenant shares


class Generator:
    """One seeded stream of inputs. Draw order is fixed, so a given seed and
    call sequence always produces the same bytes."""

    def __init__(self, seed: int, knobs: Knobs = Knobs()):
        self.seed = seed
        self.knobs = knobs
        self.rng = np.random.default_rng(seed)
        k = knobs
        lens = self.rng.integers(3, 10, size=k.vocab_size)
        letters = self.rng.integers(0, len(LETTERS), size=int(lens.sum()))
        words, pos = [], 0
        for n in lens:
            words.append("".join(LETTERS[i] for i in letters[pos:pos + n]))
            pos += n
        self.vocab = np.array(words, dtype=object)
        ranks = np.arange(1, k.vocab_size + 1, dtype=np.float64)
        p = 1.0 / ranks
        self.word_p = p / p.sum()  # Zipfian word frequencies, like text
        self.blocklist = [f"zq{w}z" for w in self.vocab[:8]]

    # ------------------------------------------------------------ text

    def words(self, n: int) -> list[str]:
        return list(self.rng.choice(self.vocab, size=n, p=self.word_p))

    def _clip(self, n: float) -> int:
        return max(self.knobs.doc_words_min, min(self.knobs.doc_words_max, int(n)))

    def doc_lengths(self, n: int) -> list[int]:
        """``n`` lengths at the lognormal's (i + 0.5)/n quantiles, in seeded
        order: every set of ``n`` documents has the same length
        distribution, long tail included, so sets differ in content only."""
        k = self.knobs
        dist = NormalDist(np.log(k.doc_words_median), k.doc_words_sigma)
        qs = [self._clip(np.exp(dist.inv_cdf((i + 0.5) / n))) for i in range(n)]
        return [qs[int(i)] for i in self.rng.permutation(n)]

    @staticmethod
    def to_text(words: list[str]) -> str:
        lines = [
            " ".join(words[i:i + WORDS_PER_LINE])
            for i in range(0, len(words), WORDS_PER_LINE)
        ]
        return "\n".join(lines)

    def pii_values(self) -> list[str]:
        r = self.rng.integers(0, 10, size=20)
        d = "".join(str(x) for x in r)
        return [
            f"{self.vocab[int(r[0]) + 10]}{d[:4]}@example.com",
            f"{d[4:7]}-{d[7:9]}-{d[9:13]}",  # ssn
            f"{d[13:16]}.{d[16:19]}.{d[0:4]}",  # phone
        ]

    # ---------------------------------------------------------- corpora

    def standing_corpus(self, n_docs: int) -> list[tuple[int, str]]:
        """The engine's existing files, which the ingest door scrubs
        uploads against. Ids are negative so they never collide with
        uploads."""
        return [(-(i + 1), self.to_text(self.words(n)))
                for i, n in enumerate(self.doc_lengths(n_docs))]

    def upload_text(self, corpus_words: list[list[str]], n: int, blocked: bool, pii: bool):
        """An upload of ``n`` words, as ``(text, planted PII)``:
        ``overlap_share`` of its words are one verbatim run copied from a
        standing-corpus document."""
        words = self.words(n)
        n_copy = int(round(n * self.knobs.overlap_share))
        src = corpus_words[int(self.rng.integers(len(corpus_words)))]
        n_copy = min(n_copy, len(src))
        if n_copy >= 8:
            start = int(self.rng.integers(0, len(src) - n_copy + 1))
            at = int(self.rng.integers(0, n - n_copy + 1))
            words[at:at + n_copy] = src[start:start + n_copy]
        if blocked:
            at = int(self.rng.integers(0, len(words)))
            words.insert(at, self.blocklist[int(self.rng.integers(len(self.blocklist)))])
        planted = self.pii_values() if pii else []
        for v in planted:
            words.insert(int(self.rng.integers(0, len(words) + 1)), v)
        return self.to_text(words), planted

    def _slots(self, n: int, share: float, exclude: set[int] = frozenset()) -> set[int]:
        """Exactly ``round(n * share)`` seeded positions of a batch."""
        free = [i for i in range(n) if i not in exclude]
        k = min(len(free), int(round(n * share)))
        return {free[int(i)] for i in self.rng.permutation(len(free))[:k]}

    def upload_batches(self, corpus: list[tuple[int, str]], batch_docs: int,
                       live: list[int] = ()):
        """Endless iterator of ingest batches of upload records ``{doc_id,
        text, pii, blocked, reupload}``. Every batch carries its shares
        exactly: ``reupload_share`` of it re-uploads an accepted earlier id
        with new text (a key update),
        ``blocklist_share`` carries a blocklisted term, ``pii_share``
        planted PII. ``live`` are ids already in the collection. Blocklisted
        uploads are never re-uploaded, so a document's live version is its
        latest upload. Batch i depends only on the seed, never on how many
        are drawn."""
        corpus_words = [t.split() for _, t in corpus]
        k = self.knobs
        accepted = list(live)
        next_id = max(accepted, default=0) + 1
        while True:
            reup = self._slots(batch_docs, k.reupload_share) if accepted else set()
            blocked = self._slots(batch_docs, k.blocklist_share, reup)
            pii = self._slots(batch_docs, k.pii_share)
            old = [accepted[int(i)] for i in self.rng.permutation(len(accepted))[:len(reup)]]
            lengths = self.doc_lengths(batch_docs)
            batch = []
            for i in range(batch_docs):
                if i in reup:
                    doc_id = old.pop()
                else:
                    doc_id, next_id = next_id, next_id + 1
                text, planted = self.upload_text(corpus_words, lengths[i], i in blocked,
                                                 i in pii)
                batch.append({"doc_id": doc_id, "reupload": i in reup,
                              "blocked": i in blocked, "text": text, "pii": planted})
            accepted.extend(d["doc_id"] for d in batch
                            if not d["blocked"] and not d["reupload"])
            yield batch

    def collection_docs(self, n_docs: int) -> list[tuple[int, str, str]]:
        """Serve collection documents ``(doc_id, text, tenant)``. Tenants
        have the shares in ``filter_selectivities``; the rest is 'main'."""
        sel = self.knobs.filter_selectivities
        cum = np.cumsum(sel)
        out = []
        for i, n in enumerate(self.doc_lengths(n_docs)):
            u = self.rng.random()
            t = int(np.searchsorted(cum, u, side="right"))
            tenant = f"t{t}" if t < len(sel) else "main"
            out.append((i + 1, self.to_text(self.words(n)), tenant))
        return out

    def query_pool(self) -> list[str]:
        return [" ".join(self.words(int(self.rng.integers(3, 9))))
                for _ in range(self.knobs.query_pool)]

    def zipf_index(self, n: int) -> int:
        """A Zipf(``zipf_s``)-skewed index into a pool of ``n``: low ranks
        repeat, so the serve mix carries repeated queries."""
        ranks = np.arange(1, n + 1, dtype=np.float64)
        p = ranks ** -self.knobs.zipf_s
        return int(self.rng.choice(n, p=p / p.sum()))
