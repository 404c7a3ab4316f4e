"""E2E distributed == oracle equality (SURVEY.md §5.2.4-5).

The Spark job's extracted text must be BYTE-identical, per url, to the
pure-Python oracle applied row-by-row — across partitioning choices —
and the checkpoint manifest must make reruns idempotent.
"""

import hashlib
import os
import shutil

import pytest
from pyspark.sql import functions as F

from ocr_spark.data.synth import gen_pages
from ocr_spark.extractor.core import extract_bytes
from ocr_spark.plans.pipeline import JobConfig, run_extraction_job
from ocr_spark.sources.catalog import Catalog


def oracle_expected(rows):
    """Keep-latest per url, then oracle extraction — the spec.  Ties on
    warc_ts break on the raw html bytes (lexicographically smallest
    wins), the engine's documented reproducible tie-break."""
    latest = {}
    for r in rows:
        cur = latest.get(r["url"])
        if (cur is None or r["warc_ts"] > cur["warc_ts"]
                or (r["warc_ts"] == cur["warc_ts"] and r["html"] < cur["html"])):
            latest[r["url"]] = r
    return {
        url: extract_bytes(r["html"])["text"] for url, r in latest.items()
    }


@pytest.fixture(scope="module")
def expected():
    return oracle_expected(gen_pages(400, seed=42))


def _run(spark, pages_parquet, tmp_path, name, **cfg_kw):
    out = str(tmp_path / name)
    stats = run_extraction_job(
        spark, pages_parquet, out, JobConfig(run_id=name, **cfg_kw)
    )
    return out, stats


def _texts(spark, out):
    return {
        r.url: r.text
        for r in spark.read.parquet(out + "/pages_extracted")
        .select("url", "text").collect()
    }


def test_e2e_byte_equality_vs_oracle(spark, pages_parquet, tmp_path, expected):
    out, stats = _run(spark, pages_parquet, tmp_path, "e2e", n_buckets=16)
    got = _texts(spark, out)
    assert set(got) == set(expected)
    mismatches = [
        u for u in expected
        if got[u].encode("utf-8") != expected[u].encode("utf-8")
    ]
    assert mismatches == []
    assert stats["n_docs"] == len(expected)
    assert stats["n_ok"] > 0 and stats["n_err"] > 0  # corpus has error genres


def test_partitioning_invariance(spark, pages_parquet, tmp_path, expected):
    """Same corpus, different bucket/salt/parallelism -> identical bytes
    (order-insensitive determinism, SURVEY.md §7.3.1)."""
    def digest(out):
        texts = _texts(spark, out)
        h = hashlib.sha256()
        for u in sorted(texts):
            h.update(u.encode())
            h.update(b"\x00")
            h.update(texts[u].encode("utf-8"))
            h.update(b"\x01")
        return h.hexdigest()

    out_a, _ = _run(spark, pages_parquet, tmp_path, "pa",
                    n_buckets=4, parallelism=3, base_salts=1)
    out_b, _ = _run(spark, pages_parquet, tmp_path, "pb",
                    n_buckets=32, parallelism=16, base_salts=8, hot_salts=64)
    assert digest(out_a) == digest(out_b)


def test_status_taxonomy_counts(spark, pages_parquet, tmp_path):
    out, _ = _run(spark, pages_parquet, tmp_path, "tax", n_buckets=8)
    df = spark.read.parquet(out + "/pages_extracted")
    by_status = {r.status: r.cnt for r in
                 df.groupBy("status").agg(F.count("*").alias("cnt")).collect()}
    assert set(by_status) <= {"ok", "validation_error", "processing_error"}
    assert by_status["ok"] > 0
    assert by_status.get("validation_error", 0) > 0   # unsupported genre
    assert by_status.get("processing_error", 0) > 0   # empty-pdf genre
    # error rows carry messages; ok rows don't
    assert df.filter((F.col("status") != "ok")
                     & F.col("error_msg").isNull()).count() == 0


def test_spans_align_with_source(spark, pages_parquet, tmp_path):
    out, _ = _run(spark, pages_parquet, tmp_path, "spans", n_buckets=8)
    ext = spark.read.parquet(out + "/pages_extracted")
    src = spark.read.parquet(pages_parquet)
    # restrict to single-capture urls: ties on (url, warc_ts) would pair
    # the winner's spans with the loser's html
    singles = src.groupBy("url").count().filter("count = 1").select("url")
    joined = (
        ext.filter((F.col("doc_kind") == "html") & (F.col("n_blocks") > 0))
        .join(singles, "url")
        .join(src.select("url", "warc_ts", "html"), ["url", "warc_ts"])
        .select("url", "spans", "html")
        .limit(40)
        .collect()
    )
    assert len(joined) > 10
    for row in joined:
        for sp in row.spans:
            assert 0 <= sp.start <= sp.end <= len(row.html)


def test_resume_skips_committed_and_is_idempotent(spark, pages_parquet, tmp_path):
    out = str(tmp_path / "resume")
    cfg = JobConfig(run_id="resume", n_buckets=8, chunk_buckets=3)
    stats1 = run_extraction_job(spark, pages_parquet, out, cfg)
    assert stats1["n_chunks"] == 3  # ceil(8/3)
    texts1 = _texts(spark, out)

    # full rerun: all buckets committed -> nothing re-extracted
    stats2 = run_extraction_job(spark, pages_parquet, out, cfg)
    assert stats2["resumed_buckets_skipped"] == 8
    assert stats2["n_chunks"] == 0
    assert _texts(spark, out) == texts1

    # no duplicate rows per (url)
    df = spark.read.parquet(out + "/pages_extracted")
    assert df.count() == df.select("url").distinct().count()


def test_resume_after_partial_run(spark, pages_parquet, tmp_path):
    """Simulate a kill after k buckets: pre-seed the manifest with a
    partial commit, run, and require the union to be complete + correct."""
    out_full = str(tmp_path / "full")
    run_extraction_job(spark, pages_parquet, out_full,
                       JobConfig(run_id="full", n_buckets=8))
    full_texts = _texts(spark, out_full)

    out = str(tmp_path / "partial")
    # first: run only a subset by chunking, interrupting after chunk 1 —
    # emulate by running with chunk_buckets=4 and a wrapped exception
    cat = Catalog(spark, out)
    cfg = JobConfig(run_id="partial", n_buckets=8, chunk_buckets=4)
    # run chunk 1 manually: commit buckets 0-3 via a restricted config
    import pyspark.sql.functions as F2
    pages = spark.read.parquet(pages_parquet)
    from ocr_spark.plans.pipeline import prepare_pages
    sub = prepare_pages(pages, 8).filter(F2.col("bucket") < 4).drop("bucket", "host")
    run_extraction_job(spark, sub, out, JobConfig(run_id="partial", n_buckets=8))
    committed = sorted(r.bucket for r in cat.committed_buckets("partial").collect())
    assert committed  # some buckets landed; 4-7 are empty but may commit
    # wipe manifest rows for buckets >= 4 to simulate the kill
    keep = [b for b in committed if b < 4]
    shutil.rmtree(os.path.join(out, "manifest"))
    cat.commit_buckets("partial", keep)

    # resume with the full input: only buckets 4-7 re-extract
    stats = run_extraction_job(spark, pages_parquet, out,
                               JobConfig(run_id="partial", n_buckets=8))
    assert stats["resumed_buckets_skipped"] == 4
    assert _texts(spark, out) == full_texts


def test_resume_totals_count_each_bucket_once(spark, pages_parquet, tmp_path):
    """A crash between a chunk's lineage append and its manifest commit
    leaves lineage rows for buckets the manifest does not list.  The
    resume re-extracts those buckets and appends a second lineage row
    for each; the run totals must still count every bucket once."""
    out = str(tmp_path / "crash")
    cfg = JobConfig(run_id="crash", n_buckets=8)
    run_extraction_job(spark, pages_parquet, out, cfg)
    cat = Catalog(spark, out)
    shutil.rmtree(os.path.join(out, "manifest"))
    cat.commit_buckets("crash", [0, 1, 2, 3])

    stats = run_extraction_job(spark, pages_parquet, out, cfg)
    assert stats["resumed_buckets_skipped"] == 4
    lineage_buckets = [r.bucket for r in cat.lineage().read().collect()]
    assert len(lineage_buckets) > len(set(lineage_buckets))  # stale rows kept
    want = spark.read.parquet(out + "/pages_extracted").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("n_ok"),
        F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias("n_err"),
        F.sum("bytes_in").alias("bytes_in"),
    ).first().asDict()
    assert {k: stats[k] for k in want} == want


def test_run_totals_take_latest_lineage_row_per_bucket(tmp_path):
    """Of two lineage rows for one bucket, the totals count the later
    append; other runs' rows are ignored; no rows gives None totals."""
    from ocr_spark.plans.pipeline import _run_totals
    from ocr_spark.sources.catalog import LINEAGE_SCHEMA

    cat = Catalog(None, str(tmp_path))
    lin = cat.lineage()
    lin.append_rows([("r", 0, 5, 5, 0, 50, 40, 1),
                     ("r", 1, 3, 2, 1, 30, 20, 1)], LINEAGE_SCHEMA)
    lin.append_rows([("r", 0, 4, 3, 1, 45, 35, 1),
                     ("other", 0, 9, 9, 0, 90, 80, 1)], LINEAGE_SCHEMA)
    assert _run_totals(cat, "r") == {"n_docs": 7, "n_ok": 5, "n_err": 2,
                                     "bytes_in": 75, "bytes_out": 55}
    assert set(_run_totals(cat, "none").values()) == {None}
