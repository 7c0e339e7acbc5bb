"""Extraction decode chain, enrichment, routing, and the SearchService
facade."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from frappe_data_pipelines_spark.api import SearchService
from frappe_data_pipelines_spark.operators.extraction import (
    decode_text_with_fallback,
    extract_text,
)
from frappe_data_pipelines_spark.sources.tables import load_table


class TestDecodeChain:
    def test_utf8(self):
        assert decode_text_with_fallback("héllo".encode()) == ("héllo", "utf-8")

    def test_utf8_sig_bom(self):
        text, enc = decode_text_with_fallback("﻿hello".encode("utf-8-sig"))
        # plain utf-8 decodes a BOM'd file too (keeps the BOM char) — the
        # reference's chain has the same property; enc records the branch hit
        assert "hello" in text

    def test_latin1_fallback(self):
        payload = "café".encode("latin-1")  # invalid as utf-8
        text, enc = decode_text_with_fallback(payload)
        assert text == "café" and enc == "latin-1"

    def test_never_raises(self):
        text, enc = decode_text_with_fallback(bytes([0xFF, 0xFE, 0x00, 0x41]))
        assert isinstance(text, str)


def test_extract_dispatch_and_type_gate(spark):
    rows = [
        ("a.txt", b"plain text"),
        ("b.md", "# md héader".encode("latin-1")),
        ("c.pdf", b"%PDF-1.4 fake"),
        ("d.png", b"\x89PNG fake"),
        ("e.exe", b"MZ not supported"),  # filtered by B1 gate
    ]
    df = spark.createDataFrame(rows, "path string, content binary")
    out = {r["path"]: r for r in extract_text(df).collect()}
    assert set(out) == {"a.txt", "b.md", "c.pdf", "d.png"}  # exe gated out
    assert out["a.txt"]["text"] == "plain text" and out["a.txt"]["method"] == "utf-8"
    assert out["b.md"]["method"] == "latin-1"
    assert out["c.pdf"]["method"] == "pdf-stub"
    assert out["d.png"]["confidence"] == 0.5


def test_extract_enabled_extensions_subset(spark):
    df = spark.createDataFrame([("a.txt", b"x"), ("c.pdf", b"y")], "path string, content binary")
    out = extract_text(df, enabled_extensions=["txt"]).collect()
    assert [r["path"] for r in out] == ["a.txt"]


class TestSearchService:
    @pytest.fixture(scope="class")
    def svc(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        docs = load_table(spark, sf_dir, "documents")
        return SearchService(vectors=emb, corpus=docs)

    def test_dense_search(self, svc):
        hits = svc.search("fast join table scan", top_k=5).collect()
        assert len(hits) == 5
        scores = [r["score"] for r in hits]
        assert scores == sorted(scores, reverse=True)

    def test_filtered_search(self, svc):
        hits = svc.search("fast join", top_k=5, filters={"label": 3}).collect()
        assert all(r["label"] == 3 for r in hits)

    def test_find_similar_excludes_self(self, svc):
        hits = svc.find_similar(42, top_k=5).collect()
        assert len(hits) == 5
        assert all(r["vec_id"] != 42 for r in hits)

    def test_rerank_overfetch_path(self, svc):
        hits = svc.search("fast join table scan", top_k=5, use_reranker=True).collect()
        assert len(hits) == 5
        rel = [r["relevance"] for r in hits]
        assert rel == sorted(rel, reverse=True)
        assert all(0.0 <= x <= 1.0 for x in rel)

    def test_rerank_with_doc_id_payload_beside_id_col(self, spark):
        """Vectors keyed by ``vec_id`` that also carry a ``doc_id`` payload:
        the corpus is keyed by the vector id under ``doc_id``, so the
        payload must not make the rerank join's key ambiguous."""
        vecs = spark.createDataFrame(
            [(100 * d + c, d, [float(d), float(c) + 1.0]) for d in range(1, 4) for c in range(3)],
            "vec_id long, doc_id long, embedding array<double>",
        )
        corpus = vecs.select(
            F.col("vec_id").alias("doc_id"),
            F.concat(F.lit("fast join chunk "), F.col("vec_id").cast("string")).alias("text"),
        )

        class FixedEmbedder:
            def embed(self, texts):
                return [[1.0, 1.0] for _ in texts]

        svc = SearchService(vectors=vecs, corpus=corpus, id_col="vec_id",
                            embedder=FixedEmbedder())
        hits = svc.search("fast join", top_k=4, use_reranker=True).collect()
        assert len(hits) == 4
        assert all(r["doc_id"] == r["vec_id"] for r in hits)
        assert [r["relevance"] for r in hits] == [1.0] * 4

    def test_hybrid_rrf(self, svc):
        hits = svc.hybrid_search("fast join table scan", top_k=10).collect()
        assert len(hits) == 10
        # RRF score bounded by 2/(60+1)
        assert all(0 < r["rrf"] <= 2 / 61 for r in hits)


def test_enrich_failure_tolerance_contract():
    """Objects without the contextualize contract are rejected loudly."""
    from frappe_data_pipelines_spark.operators.enrich import enrich_chunks

    with pytest.raises(TypeError, match="contextualize"):
        enrich_chunks(None, provider=object())


def test_enrich_provider_dead_letters(spark, sf_dir):
    """J2 + I3: a provider that fails on some rows dead-letters exactly those
    rows (empty context + error message) while the rest enrich normally."""
    from frappe_data_pipelines_spark.operators.chunker import chunk_documents
    from frappe_data_pipelines_spark.operators.enrich import enrich_chunks

    class FlakyProvider:
        def contextualize(self, doc_ids, chunk_indexes, totals):
            out = []
            for d, i, t in zip(doc_ids, chunk_indexes, totals):
                if d % 7 == 0:
                    raise RuntimeError(f"provider exploded on doc {d}")
                out.append(f"ctx {d}/{i}")
            return out

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    chunks = chunk_documents(docs, strategy="recursive", chunk_size=200, chunk_overlap=40)
    out = enrich_chunks(chunks, provider=FlakyProvider()).collect()
    assert out
    for r in out:
        if r["doc_id"] % 7 == 0:
            assert r["enrich_error"] and "exploded" in r["enrich_error"]
            assert r["context_prefix"] == ""
            assert r["embedded_text"] == r["chunk_text"]  # H16: empty → bare chunk
        else:
            assert r["enrich_error"] is None
            assert r["context_prefix"].startswith("ctx ")
            assert r["embedded_text"].startswith(r["context_prefix"])


def test_enrich_wants_document_seam(spark, sf_dir):
    """A wants_document provider receives the full document text (joined on
    via attach_doc_text) as the 5th argument through the Arrow stage."""
    from frappe_data_pipelines_spark.operators.chunker import chunk_documents
    from frappe_data_pipelines_spark.operators.enrich import (
        attach_doc_text,
        enrich_chunks,
    )

    class DocEchoProvider:
        wants_text = True
        wants_document = True

        def contextualize(self, doc_ids, chunk_indexes, totals, texts=None,
                          doc_texts=None):
            assert doc_texts is not None and len(doc_texts) == len(doc_ids)
            return [
                f"doc[{(dt or '')[:12]}] chunk[{(t or '')[:8]}]"
                for t, dt in zip(texts, doc_texts)
            ]

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 12)
    chunks = chunk_documents(docs, strategy="recursive", chunk_size=200, chunk_overlap=40)
    enriched = enrich_chunks(attach_doc_text(chunks, docs), provider=DocEchoProvider())
    rows = enriched.collect()
    assert rows
    doc_text = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    for r in rows:
        assert r["enrich_error"] is None
        assert r["context_prefix"] == (
            f"doc[{doc_text[r['doc_id']][:12]}] chunk[{r['chunk_text'][:8]}]"
        )


class TestPipelineEngine:
    @pytest.fixture()
    def engine(self, spark, sf_dir):
        from frappe_data_pipelines_spark.api import PipelineEngine

        docs = load_table(spark, sf_dir, "documents")
        jobs = docs.filter(F.col("doc_id") % 2 == 0).select(
            F.col("doc_id").alias("source_doc_id"),
            F.when(F.col("doc_id") % 4 == 0, "Completed").otherwise("Failed").alias("status"),
            (F.col("doc_id") % 5).cast("int").alias("retry_count"),
            F.current_timestamp().alias("completed_at"),
        )
        return PipelineEngine(files=docs, jobs=jobs)

    def test_scrub_incoming(self, engine, spark):
        corpus_text = engine.files.filter("doc_id = 2").first()["text"]
        shared = corpus_text[:60]
        new = spark.createDataFrame(
            [(9001, "brand new prefix >> " + shared + " << brand new suffix")],
            "doc_id long, text string",
        )
        row = engine.scrub_incoming(new, min_len=40).first()
        assert shared not in row["cleaned_text"]
        assert row["cleaned_text"].startswith("brand new prefix >> ")
        assert row["chars_removed"] >= 60
        # round 9: the fingerprint cache is engine-held — a second call
        # reuses the SAME persisted table; a different min_len rebuilds;
        # release_caches frees it
        fp1 = engine._scrub_fp
        assert fp1.storageLevel.useMemory
        row2 = engine.scrub_incoming(new, min_len=40).first()
        assert engine._scrub_fp is fp1
        assert row2["cleaned_text"] == row["cleaned_text"]
        engine.scrub_incoming(new, min_len=50).first()
        assert engine._scrub_fp is not fp1
        engine.release_caches()
        assert engine._scrub_fp is None
        # text-less files table refuses loudly
        from frappe_data_pipelines_spark.api import PipelineEngine

        bare = PipelineEngine(files=engine.files.drop("text"), jobs=engine.jobs)
        import pytest as _pytest

        with _pytest.raises(ValueError, match="carry text"):
            bare.scrub_incoming(new)

    def test_door_runs_the_batch_once(self, engine, spark):
        """A queue worker's door: the batch comes out of a Python kernel,
        is scrubbed, screened, and the screen is joined back onto the scrub
        before one collect. The kernel must run once per row, however many
        times the door reads the batch."""
        corpus_text = engine.files.filter("doc_id = 2").first()["text"]
        raw = spark.createDataFrame(
            [(9001 + i, f"upload {i} >> {corpus_text[:60]} << tail {i}") for i in range(6)],
            "doc_id long, text string",
        )
        rows_seen = spark.sparkContext.accumulator(0)

        def kernel(batches):
            for pdf in batches:
                rows_seen.add(len(pdf))
                yield pdf

        batch = raw.mapInPandas(kernel, raw.schema)
        scrub = engine.scrub_incoming(batch, min_len=40)
        terms = spark.createDataFrame([(1, "upload 3 ")], "term_id long, term string")
        screen = engine.screen_incoming(
            scrub.select("doc_id", F.col("cleaned_text").alias("text")), terms
        )
        door = scrub.join(screen.select("doc_id", "blocked"), "doc_id").collect()
        assert rows_seen.value == 6
        assert len(door) == 6
        assert {r.doc_id for r in door if r.blocked} == {9004}
        assert all(corpus_text[:60] not in r.cleaned_text for r in door)
        engine.release_caches()

    def test_scrub_incoming_disk_cache_survives_engine_restart(
        self, engine, spark, sf_dir, tmp_path, monkeypatch
    ):
        """VERDICT r9 task 7: with fp_cache_path set, the corpus
        fingerprint scan is written to disk and a FRESH engine pointed at
        the same cache loads it without re-running the corpus kernel —
        asserted by call-counting the kernel, the job-count equivalent."""
        from frappe_data_pipelines_spark import api as api_mod
        from frappe_data_pipelines_spark.api import PipelineEngine
        from frappe_data_pipelines_spark.operators import dedup as dedup_mod

        calls = []
        real = dedup_mod.corpus_winnow_fingerprints

        def spy(*a, **kw):
            calls.append(1)
            return real(*a, **kw)

        monkeypatch.setattr(dedup_mod, "corpus_winnow_fingerprints", spy)
        cache = str(tmp_path / "fp_cache")
        corpus_text = engine.files.filter("doc_id = 2").first()["text"]
        new = spark.createDataFrame(
            [(9001, "prefix >> " + corpus_text[:60] + " << suffix")],
            "doc_id long, text string",
        )
        row1 = engine.scrub_incoming(new, min_len=40, fp_cache_path=cache).first()
        assert calls == [1]  # built once, spilled to disk
        engine.release_caches()
        del engine  # "restart": a brand-new engine over the same corpus

        engine2 = PipelineEngine(
            files=load_table(spark, sf_dir, "documents"),
            jobs=spark.createDataFrame(
                [], "source_doc_id long, status string, retry_count int, "
                "completed_at timestamp"
            ),
        )
        row2 = engine2.scrub_incoming(new, min_len=40, fp_cache_path=cache).first()
        assert calls == [1]  # NO corpus-side recompute: loaded from disk
        assert row2["cleaned_text"] == row1["cleaned_text"]
        assert row2["chars_removed"] == row1["chars_removed"]
        # a min_len mismatch rebuilds (and re-stamps) the cache
        engine2.scrub_incoming(new, min_len=50, fp_cache_path=cache).first()
        assert calls == [1, 1]
        engine2.release_caches()

    def test_screen_incoming(self, engine, spark):
        new = spark.createDataFrame(
            [
                (1, "totally fine text"),
                (2, "has a BANNED word"),
                (3, "banned twice: banned"),
            ],
            "doc_id long, text string",
        )
        terms = spark.createDataFrame([(1, "banned")], "term_id long, term string")
        rows = {r.doc_id: r for r in engine.screen_incoming(new, terms).collect()}
        assert [rows[i].blocked for i in (1, 2, 3)] == [False, True, True]
        lax = {r.doc_id: r.blocked for r in engine.screen_incoming(new, terms, max_hits=1).collect()}
        assert lax == {1: False, 2: False, 3: True}

    def test_score_incoming(self, engine, spark, tmp_path, monkeypatch):
        """The quality door: trains the persisted KN LM from the standing
        corpus ONCE, then arriving batches are scored with zero
        corpus-side work (call-counted, the scrub-cache discipline); an
        in-domain batch outscores an OOV one; a text-less files table
        refuses loudly; rebuild=True retrains."""
        from frappe_data_pipelines_spark.api import PipelineEngine
        from frappe_data_pipelines_spark.operators import selection as sel_mod

        calls = []
        real = sel_mod.kn_write

        def spy(*a, **kw):
            calls.append(1)
            return real(*a, **kw)

        monkeypatch.setattr(sel_mod, "kn_write", spy)
        lm = str(tmp_path / "kn_lm")
        corpus_text = engine.files.filter("doc_id = 2").first()["text"]
        new = spark.createDataFrame(
            [(9001, corpus_text[:120]), (9002, "zxqv gflm wrtk pzns jqxd")],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in engine.score_incoming(new, lm).collect()}
        assert calls == [1]
        assert set(got) == {9001, 9002}
        assert got[9001]["kn_score"] > got[9002]["kn_score"]
        # second batch: LM served from disk, no retrain
        got2 = engine.score_incoming(new, lm).first()
        assert calls == [1]
        assert got2 is not None
        # rebuild forces retraining
        engine.score_incoming(new, lm, rebuild=True).first()
        assert calls == [1, 1]
        bare = PipelineEngine(files=engine.files.drop("text"), jobs=engine.jobs)
        with pytest.raises(ValueError, match="carry 'text'"):
            bare.score_incoming(new, str(tmp_path / "kn_lm2"))

    def test_backfill_skips_active(self, engine):
        out = engine.process_existing_files()
        # Completed jobs (doc_id % 4 == 0) block re-queue; Failed jobs do NOT
        # (reference skip-list is active∪Completed, settings.py:166-170)
        assert out.filter(F.col("source_doc_id") % 4 == 0).count() == 0
        assert out.filter((F.col("source_doc_id") % 2 == 0) & (F.col("source_doc_id") % 4 != 0)).count() > 0
        assert out.filter(F.col("status") != "Queued").count() == 0

    def test_retry_cap(self, engine):
        out = engine.retry_failed_jobs()
        assert out.filter(F.col("retry_count") > 3).count() == 0  # cap is <3 pre-bump
        assert out.filter(F.col("status") != "Queued").count() == 0

    def test_retention_keeps_recent(self, engine):
        kept = engine.cleanup_old_jobs(days=30)
        # everything is completed_at=now → nothing expired
        assert kept.count() == engine.jobs.count()

    def test_cascade_delete(self, engine):
        (kept_jobs,) = engine.on_file_delete(4)
        assert kept_jobs.filter(F.col("source_doc_id") == 4).count() == 0
        assert kept_jobs.count() == engine.jobs.count() - 1

    def test_stats_shape(self, engine):
        stats = engine.get_processing_stats()
        assert stats["total_jobs"] == engine.jobs.count()
        by = stats["jobs_by_status"]
        assert by["Completed"] + by["Failed"] == stats["total_jobs"]

    def test_run_batch(self, engine):
        embedded, done = engine.run_batch(chunk_size=200, chunk_overlap=40)
        n_eligible = engine.jobs.filter(F.col("status").isin("Queued", "Failed")).count()
        assert done.count() == n_eligible
        assert embedded.filter(F.size("embedding") != 64).count() == 0


def test_prompt_cache_ordering_layout(spark, sf_dir):
    """O7: after order_for_prompt_cache, each partition holds whole documents
    with chunk_index ascending — the layout provider-side caching needs."""
    from frappe_data_pipelines_spark.operators.chunker import chunk_documents
    from frappe_data_pipelines_spark.operators.enrich import order_for_prompt_cache

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    chunks = chunk_documents(docs, strategy="recursive", chunk_size=150, chunk_overlap=30)
    laid = order_for_prompt_cache(chunks.repartition(7))  # scramble first

    def check(it):
        import pandas as pd
        for pdf in it:
            ok = True
            last = {}
            docs_seen = list(pdf["doc_id"])
            # chunk_index strictly increasing within each doc's run
            for d, i in zip(pdf["doc_id"], pdf["chunk_index"]):
                if d in last and i != last[d] + 1:
                    ok = False
                last[d] = i
            # each doc appears in one contiguous run
            runs = [k for k, _ in __import__("itertools").groupby(docs_seen)]
            if len(runs) != len(set(runs)):
                ok = False
            yield pd.DataFrame({"ok": [ok]})

    flags = laid.mapInPandas(check, "ok boolean").collect()
    assert all(r["ok"] for r in flags)

    # every document's chunks land in exactly one partition
    parts = laid.select("doc_id", F.spark_partition_id().alias("pid")).distinct()
    per_doc = parts.groupBy("doc_id").count().filter(F.col("count") > 1).count()
    assert per_doc == 0


def test_embed_provider_factory_lazy(spark):
    """O6: a zero-arg provider factory resolves per executor process and
    produces the same vectors as a pickled instance."""
    from frappe_data_pipelines_spark.operators.embed import HashingEmbedder, embed_documents

    df = spark.createDataFrame([(1, "fast join table")], "doc_id long, chunk_text string")
    via_instance = embed_documents(df, provider=HashingEmbedder()).first()["embedding"]
    via_factory = embed_documents(df, provider=HashingEmbedder).first()["embedding"]
    assert via_instance == via_factory and len(via_factory) == 64


def test_top_level_exports():
    import frappe_data_pipelines_spark as pkg

    assert pkg.SearchService and pkg.PipelineEngine and pkg.EngineSettings
    assert pkg.get_spark


class TestRerankProvider:
    def _candidates(self, spark, sf_dir):
        from frappe_data_pipelines_spark.operators.search import knn_topk

        emb = load_table(spark, sf_dir, "embeddings")
        docs = load_table(spark, sf_dir, "documents")
        qv = [float(x) for x in emb.first()["embedding"]]
        return (
            knn_topk(emb, qv, k=25)
            .join(docs, F.col("vec_id") == F.col("doc_id"))
            .select("doc_id", "text", "score")
        )

    def test_provider_reorders(self, spark, sf_dir):
        from frappe_data_pipelines_spark.operators.search import rerank_with_provider

        class ReverseProvider:
            def rerank(self, query, texts):
                return [float(len(t)) for t in texts]  # longest text wins

        out = rerank_with_provider(
            self._candidates(spark, sf_dir), "q", ReverseProvider(), top_k=5
        ).collect()
        assert len(out) == 5
        rel = [r["relevance"] for r in out]
        assert rel == sorted(rel, reverse=True)

    def test_provider_failure_falls_back_to_vector_order(self, spark, sf_dir):
        from frappe_data_pipelines_spark.operators.search import rerank_with_provider

        class BrokenProvider:
            def rerank(self, query, texts):
                raise RuntimeError("cohere is down")

        cands = self._candidates(spark, sf_dir)
        out = rerank_with_provider(cands, "q", BrokenProvider(), top_k=5).collect()
        expected = [r["doc_id"] for r in
                    cands.orderBy(F.desc("score"), F.col("doc_id").asc()).limit(5).collect()]
        assert [r["doc_id"] for r in out] == expected  # vector order preserved
        assert all(r["relevance"] is None for r in out)


def test_search_service_uses_injected_reranker(spark, sf_dir):
    from frappe_data_pipelines_spark.api import SearchService

    class LenProvider:
        def rerank(self, query, texts):
            return [float(len(t)) for t in texts]

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    svc = SearchService(vectors=emb, corpus=docs, reranker=LenProvider())
    out = svc.search("fast join table scan", top_k=5, use_reranker=True).collect()
    assert len(out) == 5
    rel = [r["relevance"] for r in out]
    assert rel == sorted(rel, reverse=True) and all(x is not None for x in rel)


def test_search_documents_api_dict_shape(spark, sf_dir):
    """Reference HTTP entry (search_service.py:324-358): same dict keys."""
    from frappe_data_pipelines_spark.api import SearchService, search_documents

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    svc = SearchService(vectors=emb, corpus=docs)
    out = search_documents(svc, "fast join table scan", top_k=5)
    assert len(out) == 5
    assert set(out[0]) == {"chunk_id", "score", "text", "context", "source_file", "section_path"}
    assert all(isinstance(d["score"], float) for d in out)
    scoped = search_documents(svc, "fast join", top_k=3, document_id=3)
    assert len(scoped) == 3


def test_pipeline_engine_settings_drive_chunking(spark, sf_dir):
    from frappe_data_pipelines_spark.api import PipelineEngine
    from frappe_data_pipelines_spark.config import EngineSettings

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    jobs = docs.select(
        F.col("doc_id").alias("source_doc_id"), F.lit("Queued").alias("status")
    )
    st = EngineSettings(chunking_strategy="semantic",
                        semantic_chunk_target=250, semantic_chunk_overlap=50)
    engine = PipelineEngine(files=docs, jobs=jobs, settings=st)
    embedded, done = engine.run_batch()
    rows = embedded.collect()
    assert rows and all("section_path" in r.asDict() for r in rows)
    assert done.count() == 20


def test_rrf_exact_mode_recovers_boundary_doc(spark):
    """overfetch=None (round-9 ADVICE): a doc ranked just outside one
    side's bounded pool keeps its true-rank contribution in exact mode.
    With top_k=2, overfetch=1 the pools are 2 deep — doc 3 (rank 3 on side
    A, rank 1 on side B) loses its A-side 1/(60+3) under the default
    approximation but receives it exactly when overfetch=None."""
    from frappe_data_pipelines_spark.operators.search import rrf_fuse

    a = spark.createDataFrame(
        [(1, 0.9), (2, 0.8), (3, 0.7)], "doc_id long, score double"
    )
    b = spark.createDataFrame(
        [(3, 0.9), (4, 0.8), (5, 0.7)], "doc_id long, bm25 double"
    )
    approx = {
        r.doc_id: r.rrf
        for r in rrf_fuse(a, b, top_k=2, overfetch=1).collect()
    }
    exact = {
        r.doc_id: r.rrf
        for r in rrf_fuse(a, b, top_k=2, overfetch=None).collect()
    }
    # approximate: doc 3 only scores its B-side rank-1 contribution
    assert approx[3] == round(1 / 61, 6)
    # exact: doc 3 adds its true A-side rank-3 contribution and wins
    assert exact[3] == round(1 / 61 + 1 / 63, 6)
    assert max(exact, key=lambda d: exact[d]) == 3


def test_stop_streaming_query_no_data_fast_path(spark):
    """A stream stuck in the no-data poll loop (trigger active, no data)
    is stopped after two quiet polls instead of burning the whole idle
    timeout — round-9 ADVICE fix."""
    import time

    from frappe_data_pipelines_spark.streaming.ingest import stop_streaming_query

    class FakeQuery:
        def __init__(self, status):
            self._status = status
            self.stopped = False

        @property
        def status(self):
            return dict(self._status)

        def stop(self):
            self.stopped = True

    # trigger active but no data: fast path (2 polls ≈ 0.4 s, not 60 s)
    q = FakeQuery({"isTriggerActive": True, "isDataAvailable": False})
    t0 = time.time()
    stop_streaming_query(q)
    assert q.stopped and time.time() - t0 < 5.0

    # trigger idle: immediate
    q2 = FakeQuery({"isTriggerActive": False, "isDataAvailable": True})
    t0 = time.time()
    stop_streaming_query(q2)
    assert q2.stopped and time.time() - t0 < 5.0

    # genuinely mid-batch: waits the (short) deadline out, then stops
    q3 = FakeQuery({"isTriggerActive": True, "isDataAvailable": True})
    t0 = time.time()
    stop_streaming_query(q3, idle_timeout=0.5)
    assert q3.stopped and 0.4 < time.time() - t0 < 5.0


def test_jvm_has_deep_stack_on_engine_session(spark):
    """get_spark launches the JVM with -Xss32m, and the introspection
    reads the RUNNING JVM's args (not the conf)."""
    from frappe_data_pipelines_spark.session import jvm_has_deep_stack

    assert jvm_has_deep_stack(spark) is True
