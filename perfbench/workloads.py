"""The workloads: ``ingest`` (write path) and ``serve`` (read path with a
write share).

Each workload is driven through the engine's public functions only. A
workload object has ``setup()``, ``run(seconds)`` and ``check()``; it fills
``samples`` (latency lists by kind, seconds), ``counts`` (work done) and
``layer`` (named per-layer numbers, traced runs only).
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import nullcontext

import numpy as np

from perfbench.gen import Generator, Knobs
from perfbench.stats import Tally, median, tail

# Sizes, chosen so one run of each workload (set-up, the timed loop and
# the checks) takes about a minute on a 4-core host; see README.md.
INGEST_CORPUS_DOCS = 150
INGEST_BATCH_DOCS = 20
SERVE_COLLECTION_DOCS = 300
SERVE_CLIENTS = 2
# One deck of serve operations, shared by the clients in this order: every
# run plays whole decks, so every run carries the same mix (search 41%,
# filtered 18%, similar and upsert 12% each, hybrid, rerank and sq 6% each;
# each upsert adds a read-after-write lookup) and each median has 17 reads
# and 2 upserts per deck. The order is fixed, so the reads that run next to
# a write are of the same kinds in every run; the seed picks the queries,
# filters, targets and upserted documents.
SERVE_DECK = ("search", "filtered", "search", "similar", "upsert", "search",
              "hybrid", "filtered", "search", "sq", "similar", "search",
              "upsert", "search", "rerank", "filtered", "search")
SERVE_UPSERT_DOCS = 1
TOP_K = 10
SCORE_TOL = 2e-6
VEC_STRIDE = 100_000  # vec_id = doc_id * VEC_STRIDE + chunk_index


def vec_id_col(F):
    return (F.col("doc_id") * VEC_STRIDE + F.col("chunk_index")).cast("long")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for n in files:
            if not n.startswith(".") and not n.endswith(".crc"):
                total += os.path.getsize(os.path.join(root, n))
    return total


def dir_files(path: str, suffix: str = ".parquet") -> int:
    return sum(n.endswith(suffix) for _, _, fs in os.walk(path) for n in fs)


def live_bytes(df) -> int:
    """Bytes of the files a read of ``df`` scans: the live snapshot, not
    superseded versions that no vacuum has reclaimed yet."""
    return sum(os.path.getsize(f.replace("file://", "")) for f in df.inputFiles())


def tail_named(values: list[float], scale: float, unit: str) -> tuple:
    t = tail(values)
    if t is None:
        return (float("nan"), unit, f"n={len(values)}: fewer than 20 samples, "
                "no percentile has ten beyond it")
    p, v, n = t
    return (v * scale, unit, f"p{p:g} of n={n}")


class MergeWatch:
    """Write-side MergeTable numbers for a traced run, read from the
    table directory and its public history."""

    def __init__(self, table):
        self.table = table
        self.files_dir = os.path.join(table.path, "files")
        self.files0 = dir_files(self.files_dir)
        self.bytes0 = dir_bytes(self.files_dir)

    def counts(self, spark, rows_merged: int) -> dict:
        live = self.table.read(spark)
        live_rows = live.count()
        written = dir_bytes(self.files_dir) - self.bytes0
        on_disk = {n for n in os.listdir(self.files_dir) if n.startswith("v")}
        used = {a.split("/")[0] for e in self.table.history()
                for a in e.get("adds", {}).values()}
        new_bytes = rows_merged * live_bytes(live) / max(1, live_rows)
        return {
            "merge.files_written": dir_files(self.files_dir) - self.files0,
            "merge.write_amp": written / new_bytes if new_bytes else 0.0,
            "merge.commit_retries": len(on_disk - used),
        }


class Probe:
    """What a workload needs from the harness: the session, a work
    directory, the tracer and the per-layer forcing rule."""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = None  # set once set-up is done: set-up runs untraced
        self._held = []

    @property
    def traced(self) -> bool:
        return self.tracer is not None

    def span(self, name: str, op_id: str | None = None):
        return self.tracer.span(name, op_id) if self.traced else nullcontext()

    def force(self, df):
        """Traced runs materialize a layer's output inside its span, so the
        span times the layer and not just plan building. Untraced runs
        leave the plan lazy and fused."""
        if not self.traced:
            return df
        df = df.persist()
        df.count()
        self._held.append(df)
        return df

    def release(self) -> None:
        for df in self._held:
            df.unpersist()
        self._held.clear()


class Workload:
    name = ""

    def __init__(self, probe: Probe, knobs: Knobs = Knobs()):
        self.p = probe
        self.spark = probe.spark
        self.knobs = knobs
        self.tally = Tally()
        self.samples: dict[str, list[float]] = {}
        self.counts: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self._lock = threading.Lock()

    def sample(self, kind: str, seconds: float) -> None:
        with self._lock:
            self.samples.setdefault(kind, []).append(seconds)

    def add(self, key: str, n: float) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + n

    def named(self, e2e: dict) -> dict:
        """The end-to-end metrics under the names this workload gives them:
        name -> (value, unit, note)."""
        t = self.tally
        return {
            "setup_s": (e2e["setup_s"], "s", "session start + set-up"),
            "peak_rss_mb": (e2e["peak_rss_mb"], "MB", "driver + JVM + Python workers, Pss"),
            "failed_frac": (t.failed_frac, "ratio", f"{t.total_failed}/{t.total_attempted}"),
        }

    def trace_counts(self) -> None:
        """Counts a traced run reads after the timed loop."""

    def fresh_dir(self, name: str) -> str:
        d = os.path.join(self.p.work, name)
        os.makedirs(d)
        return d


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

class Ingest(Workload):
    """Closed loop, one client: a queue worker that takes the next batch
    of uploads once the previous one committed."""

    name = "ingest"

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from frappe_data_pipelines_spark.api import PipelineEngine
        from frappe_data_pipelines_spark.sources.merge import MergeTable

        spark = self.spark
        d = self.fresh_dir("ingest")
        self.gen = Generator(self.p.seed, self.knobs)
        corpus = self.gen.standing_corpus(INGEST_CORPUS_DOCS)
        files = spark.createDataFrame(corpus, "doc_id long, text string")
        jobs = spark.createDataFrame([], "doc_id long, status string")
        self.engine = PipelineEngine(files=files, jobs=jobs)
        self.terms = spark.createDataFrame(
            list(enumerate(self.gen.blocklist)), "term_id long, term string")
        # the door's corpus fingerprints are built once and persisted
        self.engine.scrub_incoming(files.limit(0)).count()
        self.table = MergeTable(os.path.join(d, "collection"), ["doc_id", "chunk_index"])
        self.batches = self.gen.upload_batches(corpus, INGEST_BATCH_DOCS)
        self.live: dict[int, dict] = {}  # doc_id -> latest accepted upload
        self.door_errors: list[str] = []
        self.input_bytes = 0
        self.last_emb = None
        self.n_batch = 0
        self._F = F

    def _files(self, batch: list[dict]):
        from frappe_data_pipelines_spark.operators.docgen import synth_docx, synth_pdf

        rows = []
        for d in batch:
            if d["doc_id"] % 2 == 0:
                rows.append((f"/upload/doc_{d['doc_id']}.pdf", synth_pdf(d["text"])))
            else:
                rows.append((f"/upload/doc_{d['doc_id']}.docx", synth_docx(d["text"])))
        return self.spark.createDataFrame(rows, "path string, content binary")

    def ingest_batch(self, batch: list[dict], op_id: str) -> None:
        """extract -> door (PII redaction, scrub against the corpus,
        blocklist screen) -> chunk -> enrich -> embed -> MergeTable commit."""
        from frappe_data_pipelines_spark.operators.chunker import chunk_documents
        from frappe_data_pipelines_spark.operators.embed import embed_documents
        from frappe_data_pipelines_spark.operators.enrich import enrich_chunks
        from frappe_data_pipelines_spark.operators.extraction import extract_text
        from frappe_data_pipelines_spark.operators.quality import redact_pii

        F, p = self._F, self.p
        binary = self._files(batch)
        t0 = time.perf_counter()
        with p.span("batch", op_id):
            with p.span("extraction"):
                ext = p.force(
                    extract_text(binary, real_kernels=True).select(
                        F.regexp_extract("path", r"doc_(\d+)\.", 1).cast("long").alias("doc_id"),
                        "text", "method"))
                if p.traced:
                    self.add("extraction.fallback",
                             ext.filter(F.col("method").endswith("-stub")).count())
                    self.add("extraction.docs", len(batch))
            # PII is redacted before the scrub: cutting a duplicated span can
            # glue the words around it to a PII token, and the word-boundary
            # patterns of redact_pii then miss it (README.md)
            with p.span("quality.pii"):
                clean = p.force(redact_pii(ext, keep_cols=["doc_id"]).select(
                    "doc_id", F.col("redacted").alias("text")))
            with p.span("dedup.scrub"):
                scrub = p.force(self.engine.scrub_incoming(clean))
                if p.traced:
                    r = scrub.agg(F.sum("chars_removed"), F.sum("n_chars")).first()
                    self.add("dedup.scrub_removed", r[0] or 0)
                    self.add("dedup.scrub_chars", r[1] or 0)
            with p.span("blocklist"):
                screen = p.force(self.engine.screen_incoming(
                    scrub.select("doc_id", F.col("cleaned_text").alias("text")), self.terms))
            door = scrub.join(screen.select("doc_id", "blocked"), "doc_id").select(
                "doc_id", "blocked", F.col("cleaned_text").alias("text")).persist()
            # the worker's job-status update: one row per upload
            status = door.collect()
            kept = door.filter(~F.col("blocked"))
            with p.span("chunker"):
                chunks = p.force(chunk_documents(kept))
            with p.span("enrich"):
                enriched = p.force(enrich_chunks(chunks))
            with p.span("embed"):
                emb = embed_documents(enriched, text_col="embedded_text") \
                    .withColumn("vec_id", vec_id_col(F)).persist()
                totals = {r["doc_id"]: r["n"] for r in emb.groupBy("doc_id")
                          .agg(F.count(F.lit(1)).alias("n")).collect()}
                if p.traced:
                    self.add("embed.rows", sum(totals.values()))
                    self.add("chunker.docs", sum(1 for r in status if not r["blocked"]))
            with p.span("merge"):
                t_m = time.perf_counter()
                self._drop_stale(batch, status, totals)
                self.table.merge(emb)
                self.sample("write", time.perf_counter() - t_m)
                self.add("merge.ops", 1)
                self.add("merge.rows", sum(totals.values()))
            with p.span("merge.optimize"):
                t_opt = time.perf_counter()
                self.table.optimize()
                self.add("merge.optimize_s", time.perf_counter() - t_opt)
                self.add("merge.optimizes", 1)
        self.sample("batch", time.perf_counter() - t0)
        door.unpersist()
        if self.last_emb is not None:
            self.last_emb.unpersist()
        self.last_emb = emb
        p.release()
        self._record(batch, status, totals)

    def _drop_stale(self, batch, status, totals) -> None:
        """A re-upload that now has fewer chunks must not leave its old
        tail chunks live: delete the keys past the new count."""
        blocked = {r["doc_id"] for r in status if r["blocked"]}
        stale = []
        for d in batch:
            old = self.live.get(d["doc_id"])
            if d["reupload"] and old is not None and d["doc_id"] not in blocked:
                n_new = totals.get(d["doc_id"], 0)
                stale += [(d["doc_id"], i) for i in range(n_new, old["n_chunks"])]
        if stale:
            self.table.delete(self.spark.createDataFrame(
                stale, "doc_id long, chunk_index int"))

    def _record(self, batch, status, totals) -> None:
        by_id = {r["doc_id"]: r for r in status}
        for d in batch:
            self.input_bytes += len(d["text"].encode())
            r = by_id.get(d["doc_id"])
            if r is None:
                self.door_errors.append(f"doc {d['doc_id']} lost at the door")
                continue
            if bool(r["blocked"]) != d["blocked"]:
                self.door_errors.append(
                    f"doc {d['doc_id']} blocked={r['blocked']}, planted={d['blocked']}")
            if not r["blocked"]:
                self.live[d["doc_id"]] = {"text": r["text"] or "", "pii": d["pii"],
                                          "n_chunks": totals.get(d["doc_id"], 0)}

    def run(self, seconds: float) -> None:
        self.watch = MergeWatch(self.table)
        t_end = time.perf_counter() + seconds
        t0 = time.perf_counter()
        while True:
            batch = next(self.batches)
            self.n_batch += 1
            err = None
            try:
                self.ingest_batch(batch, f"b{self.n_batch}")
            except Exception as e:  # noqa: BLE001 - a failed batch is counted
                err = repr(e)
            self.tally.record("batch", err is None, err)
            self.add("docs", len(batch))
            if time.perf_counter() >= t_end:
                break
        self.counts["wall_s"] = time.perf_counter() - t0

    def check(self) -> None:
        """Door decisions match the planted truth; every live document's
        chunk count equals ``chunk_documents`` on its door output; no
        planted PII passes the door; re-merging a batch changes no row count."""
        from frappe_data_pipelines_spark.operators.chunker import chunk_documents

        F, spark = self._F, self.spark
        for e in self.door_errors:
            self.tally.fail_check("batch", e)
        coll = self.table.read(spark)
        got = {r["doc_id"]: r["n"] for r in coll.groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n")).collect()}
        live = spark.createDataFrame(
            [(i, d["text"]) for i, d in self.live.items()], "doc_id long, text string")
        want = {r["doc_id"]: r["n"] for r in chunk_documents(live)
                .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
        bad = [i for i in set(got) | set(want) if got.get(i) != want.get(i)]
        for i in bad[:20]:
            self.tally.fail_check("batch", f"doc {i}: {got.get(i)} chunks stored, "
                                  f"chunker gives {want.get(i)}")
        leaked = [i for i, d in self.live.items() if any(v in d["text"] for v in d["pii"])]
        if leaked:
            self.tally.fail_check("batch", f"docs {leaked[:5]} keep planted PII")
        self.counts["stored_bytes"] = live_bytes(coll)  # as the worker left it
        before = sum(got.values())
        if self.last_emb is not None:
            self.table.merge(self.last_emb)
            after = self.table.read(spark).count()
            if after != before:
                self.tally.fail_check("batch", f"re-merge changed rows {before}->{after}")
            self.last_emb.unpersist()

    def trace_counts(self) -> None:
        self.counts.update(self.watch.counts(self.spark, self.counts.get("merge.rows", 0)))

    def named(self, e2e: dict) -> dict:
        out = super().named(e2e)
        out.update({
            "docs_per_s": (e2e["items_per_s"], "docs/s", "documents committed"),
            "batch_p50_s": (e2e["op_p50_ms"] / 1e3, "s", f"n={len(self.samples['batch'])}"),
            "batch_tail_s": tail_named(self.samples["batch"], 1.0, "s"),
            "stored_bytes_per_input_byte": (e2e["stored_bytes_per_input_byte"], "ratio",
                                            "collection bytes / extracted text bytes"),
        })
        return out

    def end_to_end(self) -> dict:
        c, b = self.counts, self.samples.get("batch", [])
        return {
            "items_per_s": c["docs"] / c["wall_s"],
            "op_p50_ms": 1e3 * median(b),
            "write_p50_ms": 1e3 * median(self.samples["write"]),
            "stored_bytes_per_input_byte": c["stored_bytes"] / max(1, self.input_bytes),
        }


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------

def topk_ok(got: list[tuple[int, float]], ids: np.ndarray, scores: np.ndarray,
            k: int) -> str | None:
    """``got`` must be a top-k of (ids, scores) under (score desc, id asc),
    allowing SCORE_TOL for rounding differences between engines. Returns
    None when it matches, else a reason."""
    want_n = min(k, len(ids))
    if len(got) != want_n:
        return f"{len(got)} rows, want {want_n}"
    if not got:
        return None
    truth = dict(zip(ids.tolist(), scores.tolist()))
    for i, (gid, gs) in enumerate(got):
        if gid not in truth:
            return f"id {gid} not in collection"
        if abs(truth[gid] - gs) > SCORE_TOL:
            return f"id {gid} score {gs}, want {truth[gid]}"
        if i and (gs > got[i - 1][1] or (gs == got[i - 1][1] and gid < got[i - 1][0])):
            return "not ordered by (score desc, id asc)"
    floor = got[-1][1]
    have = {g for g, _ in got}
    missing = [i for i, s in truth.items() if s > floor + SCORE_TOL and i not in have]
    return f"missed ids {missing[:3]}" if missing else None


class Serve(Workload):
    """Closed loop, ``SERVE_CLIENTS`` clients: RAG query traffic with a
    write share against a MergeTable collection and an SQ8 index.

    Operations come in decks drawn up front from the seed (kind, query,
    filter value, similar target, upsert documents), so a seed always
    yields the same inputs whichever client happens to run a ticket."""

    name = "serve"

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from frappe_data_pipelines_spark.operators.ann import sq_write
        from frappe_data_pipelines_spark.sources.merge import MergeTable

        spark = self.spark
        self._F = F
        d = self.fresh_dir("serve")
        self.gen = Generator(self.p.seed, self.knobs)
        docs = self.gen.collection_docs(SERVE_COLLECTION_DOCS)
        df = spark.createDataFrame(docs, "doc_id long, text string, tenant string")
        self.table = MergeTable(os.path.join(d, "collection"), ["doc_id", "chunk_index"])
        emb = self._embed(df).persist()
        self.table.merge(emb)
        emb.unpersist()
        # compacted like the ingest worker leaves it: one file per bucket,
        # with the upserts' files added on top during the run
        self.table.optimize()
        self.sq_path = os.path.join(d, "sq8")
        t = time.perf_counter()
        base = self.table.read(spark)
        sq_write(base, self.sq_path)
        self.layer["ann.sq_build_s"] = time.perf_counter() - t
        rows = base.select("vec_id", "embedding", "tenant",
                           F.length("chunk_text").alias("n")).collect()
        self.text_bytes = sum(r["n"] for r in rows)
        self.base_ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
        self.base_vecs = np.array([r["embedding"] for r in rows], dtype=np.float32)
        self.base_tenant = np.array([r["tenant"] for r in rows], dtype=object)
        self.pool = self.gen.query_pool()
        self.next_doc = SERVE_COLLECTION_DOCS + 1
        self.upserts: list[dict] = []  # {ids, t_start, t_end}
        self.reads: list[dict] = []  # recorded results, checked after the loop

    def _deck(self) -> list[list[dict]]:
        """One deck of tickets in ``SERVE_DECK`` order. A ticket is run by
        one client; the upsert ticket carries a read-after-write lookup of
        one of the chunks it wrote."""
        g, tickets = self.gen, []
        for kind in SERVE_DECK:
            op = {"kind": kind, "q": self.pool[g.zipf_index(len(self.pool))]}
            if kind == "filtered":
                op["tenant"] = f"t{int(g.rng.integers(len(self.knobs.filter_selectivities)))}"
            elif kind == "similar":
                op["target"] = int(self.base_ids[int(g.rng.integers(len(self.base_ids)))])
            elif kind == "upsert":
                op["docs"] = [(self.next_doc + i, Generator.to_text(g.words(n)), "main")
                              for i, n in enumerate(g.doc_lengths(SERVE_UPSERT_DOCS))]
                self.next_doc += SERVE_UPSERT_DOCS
                tickets.append([op, {"kind": "similar", "q": op["q"], "target": None}])
                continue
            tickets.append([op])
        return tickets

    def _embed(self, docs):
        from frappe_data_pipelines_spark.operators.chunker import chunk_documents
        from frappe_data_pipelines_spark.operators.embed import embed_documents
        from frappe_data_pipelines_spark.operators.enrich import enrich_chunks

        F = self._F
        with self.p.span("chunker"):
            chunks = self.p.force(
                chunk_documents(docs).join(docs.select("doc_id", "tenant"), "doc_id"))
        with self.p.span("enrich"):
            enriched = self.p.force(enrich_chunks(chunks))
        with self.p.span("embed"):
            out = self.p.force(embed_documents(enriched, text_col="embedded_text")
                               .withColumn("vec_id", vec_id_col(F)))
        return out

    def _service(self):
        from frappe_data_pipelines_spark.api import SearchService

        F, p = self._F, self.p
        with p.span("merge.read"):
            table = self.table.read(self.spark)
            if p.traced:
                self.add("merge.scans", 1)
                self.add("merge.scan_files", len(table.inputFiles()))
        # the service gets (id, vector, payload) only: a ``doc_id`` column on
        # the vectors would collide with the corpus key in the rerank join
        vecs = table.select("vec_id", "embedding", "tenant")
        corpus = table.select(F.col("vec_id").alias("doc_id"),
                              F.col("chunk_text").alias("text"))
        return SearchService(vectors=vecs, corpus=corpus, id_col="vec_id",
                             vec_col="embedding", text_col="text")

    def _op(self, op: dict) -> dict:
        from frappe_data_pipelines_spark.api import search_documents
        from frappe_data_pipelines_spark.operators.ann import sq_read_search
        from frappe_data_pipelines_spark.operators.embed import HashingEmbedder

        p, kind, q = self.p, op["kind"], op["q"]
        rec = dict(op, t_start=time.perf_counter())
        if kind == "upsert":
            self._upsert(rec)
            return rec
        if kind == "sq":
            qv = HashingEmbedder().embed([q])[0]
            with p.span("ann"):
                rows = sq_read_search(self.spark, self.sq_path, qv, k=TOP_K).collect()
            rec["got"] = [(r["id"], r["score"]) for r in rows]
        else:
            svc = self._service()
            with p.span("search") as sp:
                if sp is not None:
                    sp.counts["kind"] = kind
                if kind == "search":
                    res = search_documents(svc, q, top_k=TOP_K)
                    rec["got"] = [(r["chunk_id"], r["score"]) for r in res]
                elif kind == "filtered":
                    rows = svc.search(q, top_k=TOP_K, filters={"tenant": op["tenant"]}).collect()
                    rec["got"] = [(r["vec_id"], r["score"]) for r in rows]
                elif kind == "similar":
                    rows = svc.find_similar(op["target"], top_k=TOP_K).collect()
                    rec["got"] = [(r["vec_id"], r["score"]) for r in rows]
                elif kind == "hybrid":
                    rows = svc.hybrid_search(q, top_k=TOP_K).collect()
                    rec["got"] = [(r["doc_id"], None) for r in rows]
                elif kind == "rerank":
                    rows = svc.search(q, top_k=TOP_K, use_reranker=True).collect()
                    rec["got"] = [(r["doc_id"], None) for r in rows]
            self.add("search.results", len(rec["got"]))
        rec["t_end"] = time.perf_counter()
        with self._lock:
            self.reads.append(rec)
        self.sample("read", rec["t_end"] - rec["t_start"])
        self.sample(kind, rec["t_end"] - rec["t_start"])
        return rec

    def _upsert(self, rec: dict) -> None:
        df = self.spark.createDataFrame(rec["docs"], "doc_id long, text string, tenant string")
        emb = self._embed(df).persist()
        ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
        with self.p.span("merge"):
            self.table.merge(emb)
        self.add("merge.ops", 1)
        self.add("merge.rows", len(ids))
        emb.unpersist()
        rec["t_end"] = time.perf_counter()
        rec["ids"] = ids
        with self._lock:
            self.upserts.append(rec)
        self.sample("upsert", rec["t_end"] - rec["t_start"])

    def _client(self, c: int, t_end: float) -> None:
        """Take tickets until the deck is empty and time is up."""
        n = 0
        while True:
            with self._lock:
                if not self.queue:
                    if time.perf_counter() >= t_end:
                        return
                    self.queue.extend(self._deck())
                ticket = self.queue.pop(0)
            prev = None
            for op in ticket:
                n += 1
                if op["kind"] == "similar" and op["target"] is None:
                    op["target"] = prev["ids"][0] if prev and prev.get("ids") else -1
                err = None
                with self.p.span("op", f"c{c}-{n}"):
                    try:
                        prev = self._op(op)
                    except Exception as e:  # noqa: BLE001 - a failed op is counted
                        err = repr(e)
                self.tally.record(op["kind"], err is None, err)

    def run(self, seconds: float) -> None:
        self.queue: list[list[dict]] = []
        self.watch = MergeWatch(self.table)
        t0 = time.perf_counter()
        threads = [threading.Thread(target=self._client, args=(c, t0 + seconds))
                   for c in range(SERVE_CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        self.counts["wall_s"] = time.perf_counter() - t0
        self.counts["ops"] = self.tally.total_attempted

    def _state(self, before: float, extra: dict | None):
        """Collection (ids, vecs, tenants) after every upsert that finished
        before ``before``, plus ``extra`` if given."""
        ups = [u for u in self.upserts if u["t_end"] < before]
        if extra is not None and extra not in ups:
            ups.append(extra)
        new_ids = [i for u in ups for i in u["ids"]]
        if not new_ids:
            return self.base_ids, self.base_vecs, self.base_tenant
        sel = np.isin(self.up_ids, np.array(new_ids, dtype=np.int64))
        return (np.concatenate([self.base_ids, self.up_ids[sel]]),
                np.concatenate([self.base_vecs, self.up_vecs[sel]]),
                np.concatenate([self.base_tenant, self.up_tenant[sel]]))

    @staticmethod
    def _cos(vecs: np.ndarray, q: np.ndarray) -> np.ndarray:
        v = vecs.astype(np.float64)
        q = q.astype(np.float64)
        den = np.linalg.norm(v, axis=1) * np.linalg.norm(q)
        with np.errstate(invalid="ignore", divide="ignore"):
            return np.round(v @ q / den, 6)

    def _check_read(self, rec: dict, state) -> str | None:
        from frappe_data_pipelines_spark.operators.embed import HashingEmbedder

        ids, vecs, tenants = state
        kind, got = rec["kind"], rec["got"]
        if kind in ("hybrid", "rerank"):
            known = set(ids.tolist())
            if len(got) != min(TOP_K, len(ids)) or len({g for g, _ in got}) != len(got):
                return f"{len(got)} rows"
            return None if all(g in known for g, _ in got) else "unknown id"
        if kind == "sq":
            known = set(self.base_ids.tolist())
            ok = len(got) == TOP_K and all(g in known for g, _ in got) and all(
                got[i][1] >= got[i + 1][1] for i in range(len(got) - 1))
            return None if ok else "sq result malformed"
        if kind == "similar":
            hit = np.nonzero(ids == rec["target"])[0]
            if len(hit) == 0:
                return f"target {rec['target']} not in collection"
            scores = self._cos(vecs, vecs[hit[0]])
            keep = ids != rec["target"]
            return topk_ok(got, ids[keep], scores[keep], TOP_K)
        qv = np.array(HashingEmbedder().embed([rec["q"]])[0], dtype=np.float32)
        scores = self._cos(vecs, qv)
        if kind == "filtered":
            keep = tenants == rec["tenant"]
            return topk_ok(got, ids[keep], scores[keep], TOP_K)
        return topk_ok(got, ids, scores, TOP_K)

    def check(self) -> None:
        F = self._F
        coll = self.table.read(self.spark)
        up = [i for u in self.upserts for i in u["ids"]]
        rows = coll.filter(F.col("vec_id").isin(up)).select(
            "vec_id", "embedding", "tenant", F.length("chunk_text").alias("n")
        ).collect() if up else []
        self.text_bytes += sum(r["n"] for r in rows)
        self.up_ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
        self.up_vecs = np.array([r["embedding"] for r in rows], dtype=np.float32).reshape(
            len(rows), self.base_vecs.shape[1])
        self.up_tenant = np.array([r["tenant"] for r in rows], dtype=object)
        if len(rows) != len(up):
            self.tally.fail_check("upsert", f"{len(up) - len(rows)} upserted chunks missing")
        n_rows = coll.count()
        if n_rows != len(self.base_ids) + len(up):
            self.tally.fail_check("upsert", f"collection has {n_rows} rows")
        for rec in self.reads:
            # an upsert still in flight when the read ran may or may not be
            # visible (at most one: the other client's)
            pending = [u for u in self.upserts
                       if u["t_start"] < rec["t_end"] and u["t_end"] >= rec["t_start"]]
            errs = [self._check_read(rec, self._state(rec["t_start"], x))
                    for x in [None] + pending]
            if all(errs):
                self.tally.fail_check(rec["kind"], errs[0])
        self.counts["stored_bytes"] = live_bytes(coll)

    def trace_counts(self) -> None:
        self.counts.update(self.watch.counts(self.spark, self.counts.get("merge.rows", 0)))

    def named(self, e2e: dict) -> dict:
        out = super().named(e2e)
        out.update({
            "queries_per_s": (e2e["items_per_s"], "ops/s", "all operations"),
            "search_p50_ms": (e2e["op_p50_ms"], "ms", f"n={len(self.samples['read'])} reads"),
            "search_tail_ms": tail_named(self.samples["read"], 1e3, "ms"),
            "upsert_p50_ms": (e2e["write_p50_ms"], "ms",
                              f"n={len(self.samples.get('upsert', []))}"),
        })
        return out

    def end_to_end(self) -> dict:
        c = self.counts
        writes = self.samples.get("upsert", [])
        return {
            "items_per_s": c["ops"] / c["wall_s"],
            "op_p50_ms": 1e3 * median(self.samples["read"]),
            "write_p50_ms": 1e3 * median(writes) if writes else float("nan"),
            "stored_bytes_per_input_byte": c["stored_bytes"] / self.text_bytes,
        }


WORKLOADS = {"ingest": Ingest, "serve": Serve}
