"""Same seed, same inputs: the generator is the benchmark's only source of
workload data."""

import hashlib
from itertools import islice

from perfbench.gen import Generator, Knobs


def fingerprint(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()


def _draw(seed: int):
    g = Generator(seed)
    corpus = g.standing_corpus(30)
    batches = list(islice(g.upload_batches(corpus, 20), 3))
    return (corpus, batches, g.collection_docs(20), g.query_pool(),
            [g.zipf_index(50) for _ in range(20)])


def test_same_seed_gives_byte_identical_inputs():
    assert fingerprint(_draw(7)) == fingerprint(_draw(7))


def test_other_seed_gives_other_inputs():
    assert fingerprint(_draw(7)) != fingerprint(_draw(8))


def test_batches_do_not_depend_on_how_many_are_drawn():
    g1, g2 = Generator(3), Generator(3)
    c1, c2 = g1.standing_corpus(10), g2.standing_corpus(10)
    first = next(g1.upload_batches(c1, 15))
    assert fingerprint(first) == fingerprint(list(islice(g2.upload_batches(c2, 15), 2))[0])


def test_planted_features_cannot_occur_by_accident():
    g = Generator(1)
    text = " ".join(t for _, t in g.standing_corpus(50))
    assert "z" not in text and not any(ch.isdigit() for ch in text)
    assert all("z" in term for term in g.blocklist)


def test_uploads_carry_the_named_shares():
    g = Generator(2, Knobs(reupload_share=0.1, blocklist_share=0.05, pii_share=0.05))
    corpus = g.standing_corpus(40)
    docs = [d for b in islice(g.upload_batches(corpus, 100), 10) for d in b]
    reup = sum(d["reupload"] for d in docs) / len(docs)
    blocked = sum(d["blocked"] for d in docs) / len(docs)
    assert 0.05 < reup < 0.15 and 0.02 < blocked < 0.09
    for d in docs:
        assert all(v in d["text"] for v in d["pii"])
        if d["blocked"]:
            assert any(t in d["text"] for t in g.blocklist)
    accepted = set()
    for b in islice(Generator(2).upload_batches(Generator(2).standing_corpus(40), 50), 5):
        for d in b:
            if d["reupload"]:
                assert d["doc_id"] in accepted  # a key update of a live doc
        accepted |= {d["doc_id"] for d in b if not d["blocked"]}
