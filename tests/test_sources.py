"""Format-generic sources/sinks (load_any/write_any) round-trips, and
``spread_scan``'s no-hidden-execution rule."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from frappe_data_pipelines_spark.sources.tables import (
    load_any,
    load_table,
    spread_scan,
    write_any,
)

PACKAGE = Path(__file__).resolve().parents[1] / "frappe_data_pipelines_spark"

SCHEMA = "doc_id BIGINT, lang STRING, n_chars BIGINT"


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json", "orc"])
def test_roundtrip(spark, sf_dir, tmp_path, fmt):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = str(tmp_path / f"docs_{fmt}")
    write_any(docs, path, fmt=fmt)
    back = load_any(spark, path, fmt=fmt, schema=None if fmt in ("parquet", "orc") else SCHEMA)
    assert back.count() == docs.count()
    a = {tuple(r) for r in docs.collect()}
    b = {tuple(r) for r in back.select("doc_id", "lang", "n_chars").collect()}
    assert a == b


def test_csv_requires_schema(spark, tmp_path):
    with pytest.raises(ValueError, match="explicit schema"):
        load_any(spark, str(tmp_path), fmt="csv")


class TestMaintenance:
    def test_upsert_idempotent_and_overwrites(self, spark, sf_dir, tmp_path):
        from frappe_data_pipelines_spark.sources.maintenance import upsert_parquet

        path = str(tmp_path / "tbl")
        base = load_table(spark, sf_dir, "documents").select("doc_id", "lang").limit(50)
        upsert_parquet(spark, base, path, ["doc_id"])
        assert spark.read.parquet(path).count() == 50

        # re-delivery of the same batch: no dupes (I5)
        upsert_parquet(spark, base, path, ["doc_id"])
        assert spark.read.parquet(path).count() == 50

        # keyed overwrite wins
        patch = base.limit(5).withColumn("lang", F.lit("xx"))
        upsert_parquet(spark, patch, path, ["doc_id"])
        out = spark.read.parquet(path)
        assert out.count() == 50
        assert out.filter(F.col("lang") == "xx").count() == 5

    def test_compaction_reduces_files(self, spark, sf_dir, tmp_path):
        import glob
        from frappe_data_pipelines_spark.sources.maintenance import compact_parquet

        path = str(tmp_path / "many")
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
        docs.repartition(20).write.parquet(path)
        before = len(glob.glob(path + "/*.parquet"))
        n = compact_parquet(spark, path, target_file_bytes=10 * 1024 * 1024)
        after = len(glob.glob(path + "/*.parquet"))
        assert before >= 20 and n == 1 and after == 1
        assert spark.read.parquet(path).count() == docs.count()


class TestWarc:
    """WARC container parsing (sources/warc.py): framing, gzip members,
    HTTP envelope, charsets, corruption totality."""

    @staticmethod
    def _one(uri="https://x/y.html", body=b"<p>hello</p>",
             ctype="text/html; charset=utf-8", wtype="response"):
        return {"warc_type": wtype, "uri": uri, "content_type": ctype, "body": body}

    def test_roundtrip_plain_and_gzipped(self):
        from frappe_data_pipelines_spark.sources.warc import parse_warc, write_warc

        recs = [self._one(), self._one(uri="https://x/z.html", body="héllo".encode())]
        for gz in (False, True):
            got = parse_warc(write_warc(recs, gzip_members=gz))
            assert [r["uri"] for r in got] == ["https://x/y.html", "https://x/z.html"]
            assert got[0]["text"] == "<p>hello</p>"
            assert got[1]["text"] == "héllo"
            assert got[0]["content_type"].startswith("text/html")

    def test_warcinfo_record_and_filtering(self, spark):
        from frappe_data_pipelines_spark.sources.warc import (
            parse_warc,
            read_warc,
            write_warc,
        )

        data = write_warc(
            [
                {"warc_type": "warcinfo", "uri": "", "content_type":
                 "application/warc-fields", "body": b"software: t\r\n"},
                self._one(),
            ]
        )
        assert [r["warc_type"] for r in parse_warc(data)] == ["warcinfo", "response"]
        df = spark.createDataFrame([("/w/a.warc.gz", bytearray(data))],
                                   "path string, content binary")
        rows = read_warc(df).collect()
        assert len(rows) == 1 and rows[0]["warc_type"] == "response"
        all_rows = read_warc(df, response_only=False).collect()
        assert len(all_rows) == 2

    def test_latin1_charset_honored(self):
        from frappe_data_pipelines_spark.sources.warc import parse_warc, write_warc

        body = "café".encode("latin-1")
        data = write_warc([self._one(body=body, ctype="text/html; charset=latin-1")])
        (rec,) = parse_warc(data)
        assert rec["text"] == "café"

    def test_body_containing_crlf_crlf_framed_correctly(self):
        from frappe_data_pipelines_spark.sources.warc import parse_warc, write_warc

        tricky = b"a\r\n\r\nWARC/1.0\r\nnot a real record"
        data = write_warc([self._one(body=tricky), self._one(uri="https://x/2")])
        got = parse_warc(data)
        assert len(got) == 2
        assert got[0]["text"] == tricky.decode()

    def test_missing_content_length_never_fabricates_records(self):
        """ADVICE r5: a record whose Content-Length header is missing or
        corrupt must be DROPPED, and the scanner must not resync on 'WARC/'
        bytes inside its unskipped body (they are body content, not a record
        boundary — only CRLFCRLF-preceded occurrences qualify)."""
        from frappe_data_pipelines_spark.sources.warc import parse_warc, write_warc

        # body contains 'WARC/' NOT at a record boundary (no CRLFCRLF before)
        evil_body = b"payload mentions WARC/1.0\r\nWARC-Type: response\r\n junk"
        bad = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            b"WARC-Target-URI: https://h/bad\r\n"
            b"Content-Type: text/plain\r\n"
            b"\r\n" + evil_body + b"\r\n\r\n"
        )  # note: NO Content-Length header
        good = write_warc([self._one(uri="https://h/good", body=b"ok")],
                          gzip_members=False)
        got = parse_warc(bad + good)
        assert [r["uri"] for r in got] == ["https://h/good"]
        assert got[0]["text"] == "ok"

        # corrupt (non-integer / negative) lengths are equally dropped
        for cl in (b"banana", b"-7"):
            corrupt = bad.replace(
                b"Content-Type: text/plain\r\n",
                b"Content-Type: text/plain\r\nContent-Length: " + cl + b"\r\n",
            )
            got = parse_warc(corrupt + good)
            assert [r["uri"] for r in got] == ["https://h/good"]

    def test_corrupt_archive_total(self, spark):
        from frappe_data_pipelines_spark.sources.warc import parse_warc, read_warc

        assert parse_warc(b"") == []
        assert parse_warc(b"garbage no records") == []
        df = spark.createDataFrame(
            [("/w/bad.warc", bytearray(b"\x1f\x8b broken gzip"))],
            "path string, content binary",
        )
        assert read_warc(df).count() == 0


class TestWarcFuzz:
    """Totality + round-trip under hypothesis."""

    def test_roundtrip_random_records(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from frappe_data_pipelines_spark.sources.warc import parse_warc, write_warc

        @settings(max_examples=40, deadline=None)
        @given(
            st.lists(
                st.tuples(
                    st.text(alphabet=st.characters(codec="utf-8",
                                                   exclude_characters="\r\n"),
                            min_size=0, max_size=80),
                    st.binary(min_size=0, max_size=200),
                    st.booleans(),
                ),
                min_size=1, max_size=5,
            ),
            st.booleans(),
        )
        def run(items, gz):
            recs = [
                {
                    "warc_type": "response",
                    "uri": f"https://h/{i}",
                    "content_type": "text/html; charset=utf-8",
                    "body": (uri_txt.encode("utf-8") + body) if html else body,
                }
                for i, (uri_txt, body, html) in enumerate(items)
            ]
            got = parse_warc(write_warc(recs, gzip_members=gz))
            assert len(got) == len(recs)
            for rec, g in zip(recs, got):
                assert g["text"] == rec["body"].decode("utf-8", errors="replace")

        run()

    def test_corruption_never_raises(self):
        import random

        from frappe_data_pipelines_spark.sources.warc import parse_warc, write_warc

        base = write_warc(
            [{"warc_type": "response", "uri": "https://h/x",
              "content_type": "text/html; charset=utf-8", "body": b"<p>x</p>"}] * 3
        )
        rng = random.Random(11)
        for _ in range(300):
            b = bytearray(base)
            for _ in range(rng.randrange(1, 6)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            parse_warc(bytes(b))  # any output is fine; raising is not


def _jobs_started(spark, group: str, fn):
    """(result of ``fn()``, ids of the Spark jobs it started) — counted
    under a job group once the listener bus has delivered every event."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


class TestSpreadScan:
    def test_post_shuffle_frame_starts_no_job(self, spark):
        """An adaptive plan is left to AQE: asking it for its partition
        count would execute every upstream stage just to build the frame."""
        agg = (
            spark.range(0, 1000, numPartitions=4)
            .groupBy((F.col("id") % 7).alias("k"))
            .agg(F.count("*").alias("n"))
        )
        out, jobs = _jobs_started(spark, "spread-scan-post-shuffle", lambda: spread_scan(agg))
        assert jobs == []
        assert out is agg
        # the same probe does see a job when one runs
        _, jobs = _jobs_started(spark, "spread-scan-control", agg.count)
        assert jobs

    def test_one_partition_leaf_scan_is_spread(self, spark, tmp_path):
        path = str(tmp_path / "one_file")
        spark.range(0, 100).coalesce(1).write.parquet(path)
        leaf = spark.read.parquet(path)
        assert leaf.rdd.getNumPartitions() == 1
        target = spark.sparkContext.defaultParallelism
        out, jobs = _jobs_started(spark, "spread-scan-leaf", lambda: spread_scan(leaf))
        assert jobs == []
        assert out.rdd.getNumPartitions() == target
        assert sorted(r.id for r in out.collect()) == list(range(100))


def test_no_rdd_access_in_package():
    """``DataFrame.rdd`` executes an adaptive plan's upstream stages, so a
    stray ``.rdd`` is a hidden job. The one allowed access is
    ``spread_scan``'s probe, behind its AdaptiveSparkPlanExec early return."""
    found = []
    for f in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(f.read_text(), str(f))
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "rdd":
                found.append((f.relative_to(PACKAGE).as_posix(), node.lineno))
    tables = PACKAGE / "sources" / "tables.py"
    fn = next(
        n for n in ast.walk(ast.parse(tables.read_text()))
        if isinstance(n, ast.FunctionDef) and n.name == "spread_scan"
    )
    guard = next(
        st for st in fn.body
        if isinstance(st, ast.If)
        and "AdaptiveSparkPlanExec" in ast.unparse(st.test)
        and isinstance(st.body[0], ast.Return)
    )
    assert [path for path, _ in found] == ["sources/tables.py"], found
    assert fn.lineno < guard.lineno < found[0][1] <= fn.end_lineno
