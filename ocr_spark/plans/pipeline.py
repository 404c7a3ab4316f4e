"""The extraction job plan: the Spark-native re-expression of the
reference's request pipeline (SURVEY.md §3.4) at table scale.

    scan pages -> anti-join manifest (resume) -> keep-latest dedup
      -> bucket/salt -> repartition -> Arrow extract -> write by bucket
      -> lineage counters -> commit manifest

Scale design notes (the parts the north rule grades):

* **One wide exchange of html.** The multi-MB ``html`` column crosses
  the network exactly once, at the explicit ``repartition(P, bucket,
  salt)`` before the extract stage (SURVEY.md §4.2 "never shuffle html
  twice").  Keep-latest dedup rides that same exchange: because both
  ``bucket`` and ``salt`` are pure functions of ``url``, every capture
  of a url lands in the same partition, so a per-task
  ``sortWithinPartitions(url, warc_ts desc, xxhash64(html))`` (an
  external, spillable sort — no shuffle) puts the winning capture first
  and the Arrow kernel drops the rest with an O(1) streaming filter.
* **The write exchange moves text, not html.** The extracted output
  (text + spans, several times smaller than the source html) is
  re-exchanged by ``bucket`` alone so each write task emits exactly one
  bucket's file.  Without this, P extract tasks x B bucket dirs produce
  P*B small files — measured 26x slower on the write at local[32], and
  a catastrophic file-count explosion on a real cluster (10k tasks x
  4k buckets = 40M files per run).
* **bucket = pmod(xxhash64(url), B)** is the resume / layout unit: the
  output is ``partitionBy(bucket)`` and the checkpoint manifest is
  keyed ``(run_id, bucket)``.  B is a deploy-time knob (64 here; O(4k)
  at 10^12 docs so a bucket stays ~25M docs).
* **salt** spreads compute inside a bucket: an independent second hash
  of the url, with a larger fan-out for documents from *hot hosts*
  (detected from a cheap sampled count/bytes aggregate — at 100 TB you
  sample, you don't scan, to find skew).  This is explicit because the
  skew is in UDF compute time, which AQE's shuffle-size-based skew
  handling cannot see (SURVEY.md §4.2).
* **Idempotent resume**: completed buckets are anti-joined out via the
  manifest (broadcast — the manifest is tiny); interrupted buckets are
  rewritten in place through dynamic partition overwrite.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocr_spark.operators.extract import extract_pages
from ocr_spark.sources.catalog import Catalog, LINEAGE_SCHEMA

__all__ = ["JobConfig", "prepare_pages", "probe_skew", "with_salt",
           "run_extraction_job"]

_HOST_RE = r"^[a-z][a-z0-9+.\-]*://([^/]+)"

# a host is hot (wide salt fan-out) when its estimated doc count OR
# html bytes reach these thresholds
HOT_COUNT_THRESHOLD = 1000
# hosts are weighed by sampled html bytes as well as doc counts: the
# giant-page-on-one-host skew pattern (few huge docs, far below
# HOT_COUNT_THRESHOLD) would otherwise never trigger the wide fan-out.
# Cost: the probe's sample scan reads the html column (parquet cannot
# sample below the scan).
HOT_BYTES_THRESHOLD = 64 << 20


@dataclass
class JobConfig:
    run_id: str = "run0"
    n_buckets: int = 64
    chunk_buckets: int = 0          # 0 = single chunk (one commit)
    parallelism: int = 0            # 0 = spark.sql.shuffle.partitions
    base_salts: int = 4
    hot_salts: int = 32
    sample_fraction: float = 0.05   # skew detection reads a sample only
    # target RAW html bytes per exchange partition.  The html exchange
    # must be sized by DATA, not by core count: partitions follow
    # max(configured parallelism, est_bytes / this target), so a task's
    # sortWithinPartitions working set is bounded (~256MB raw) at ANY
    # cluster size.  Sizing by 2x cores alone made the LOW-parallelism
    # side of the N-vs-4N scaling pair sort ~630MB per task (spill —
    # an extra full write+read of the html) while the 4N side sorted
    # ~160MB in memory, overstating measured efficiency; on a real
    # cluster the same bug appears as "the job got slower when we
    # removed executors" for reasons that are spill, not compute.
    exchange_partition_bytes: int = 256 << 20
    dedup: bool = True
    all_pages: bool = False
    with_spans: bool = True
    # write-stage task count; 0 = min(parallelism, |buckets|).  Buckets
    # are the LAYOUT unit (dirs, resume grain); write tasks are the
    # PARALLELISM unit — decoupled on purpose.  bucket is a function of
    # the hash-partition key, so each bucket's rows land wholly in one
    # task and the one-file-per-bucket-dir layout is preserved; a task
    # owning several buckets writes them as dynamic partitions.  Tying
    # tasks to |buckets| (the old form) made write tasks tiny and
    # task-FIXED costs dominant: at local[16] the 64-task write stage
    # measured 143 JVM-CPU-s + 78 GC-s vs 12 CPU-s at 16 tasks for the
    # same 64 files (closure deserialization + lambda-form spinning +
    # allocation storms under concurrent cold starts).  On a real
    # cluster the same rule holds: tasks ~ total cores, buckets ~
    # layout (O(4k) at 10^12 docs), never forced equal.
    write_tasks: int = 0


def prepare_pages(df: DataFrame, n_buckets: int) -> DataFrame:
    """Derive the partitioning columns: host + url-hash bucket."""
    return df.withColumn("host", F.regexp_extract("url", _HOST_RE, 1)).withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    )


def probe_skew(df: DataFrame, cfg: JobConfig) -> tuple[list, int, int]:
    """One collected probe pass over a sample -> (hot-host rows, est
    corpus docs, est corpus html bytes).  Sampling keeps this
    sub-linear: at 10^12 docs you cannot afford a full scan just to
    find skew.  The per-host aggregate is a ``rollup``, so the
    grand-total row (host NULL — a real host can never be NULL,
    regexp_extract yields '') rides the same map-side partial agg.
    Hot-host filtering stays IN the query so only (hot hosts + 1 total)
    rows ever reach the driver — host cardinality is unbounded at
    10^12 docs.  The totals size the html exchange (see
    ``JobConfig.exchange_partition_bytes``)."""
    sample = df.sample(fraction=cfg.sample_fraction, seed=42)
    scale = 1.0 / cfg.sample_fraction
    rows = (
        sample.rollup("host")
        .agg((F.count("*") * scale).cast("long").alias("est_docs"),
             (F.sum(F.octet_length("html")) * scale).cast("long")
             .alias("est_bytes"))
        .filter(F.col("host").isNull()
                | (F.col("est_docs") >= HOT_COUNT_THRESHOLD)
                | (F.col("est_bytes") >= HOT_BYTES_THRESHOLD))
        .collect()
    )
    hot = [(r.host, r.est_docs) for r in rows if r.host is not None]
    tot = next((r for r in rows if r.host is None), None)
    if tot is None:
        return hot, 0, 0
    return hot, int(tot.est_docs), int(tot.est_bytes or 0)


def with_salt(df: DataFrame, hot_hosts: DataFrame, cfg: JobConfig) -> DataFrame:
    """salt = second, independent url hash; hot hosts fan out wider.
    Broadcast join — the hot-host dim is tiny by construction."""
    hot = F.broadcast(hot_hosts.select("host").withColumn("is_hot", F.lit(True)))
    salt_hash = F.xxhash64(F.col("url"), F.lit("salt"))
    return (
        df.join(hot, on="host", how="left")
        .withColumn(
            "salt",
            F.when(F.col("is_hot").isNotNull(),
                   F.pmod(salt_hash, F.lit(cfg.hot_salts)))
            .otherwise(F.pmod(salt_hash, F.lit(cfg.base_salts)))
            .cast("int"),
        )
        .drop("is_hot")
    )


def keep_latest(df: DataFrame) -> DataFrame:
    """Standalone keep-latest-capture per url (driver-contract /
    relational form).  The production job does NOT use this: it folds
    dedup into the extract stage's partition-local sort (see
    ``run_extraction_job``), which costs zero extra shuffles.  This
    form computes the winner set on a skinny (url, warc_ts) projection,
    then joins back; ties on (url, warc_ts) are collapsed by a
    deterministic row_number over the raw payload bytes (same tie-break
    contract as the in-kernel dedup: lexicographically smallest html
    wins — reproducible in Python/SQL, unlike a JVM-only hash).  NULL
    ``warc_ts`` sorts last under desc order in both paths — a null
    capture never beats a dated one; a url whose captures are ALL null
    keeps one row (max yields NULL, matched via null-safe equality —
    a plain equi-join would drop the url entirely, diverging from the
    in-kernel dedup path)."""
    winners = df.groupBy("url").agg(F.max("warc_ts").alias("_max_ts"))
    out = df.join(
        winners,
        (df["url"] == winners["url"])
        & df["warc_ts"].eqNullSafe(winners["_max_ts"]),
        how="left_semi",
    )
    # exact-tie safety: same url+ts captured twice -> keep lowest html bytes
    w = Window.partitionBy("url", "warc_ts").orderBy(F.col("html").asc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


_TOTAL_KEYS = ("n_docs", "n_ok", "n_err", "bytes_in", "bytes_out")


def _run_totals(cat: Catalog, run_id: str) -> dict:
    """Run totals from the lineage table: one row per bucket of
    ``run_id``, the latest appended one.  A bucket re-extracted after a
    crash between its lineage append and its manifest commit has two
    rows; only the later one describes the data now in the table.  The
    same read serves a fresh and a resumed run.  All totals are None
    when the run has no lineage rows."""
    names = LINEAGE_SCHEMA.fieldNames()
    latest = {}
    for row in cat.lineage().read_rows(LINEAGE_SCHEMA):
        r = dict(zip(names, row))
        if r["run_id"] == run_id:
            latest[r["bucket"]] = r
    if not latest:
        return dict.fromkeys(_TOTAL_KEYS)
    return {k: sum(r[k] or 0 for r in latest.values()) for k in _TOTAL_KEYS}


def run_extraction_job(
    spark: SparkSession,
    pages: DataFrame | str,
    out_root: str,
    cfg: JobConfig | None = None,
) -> dict:
    """Run (or resume) the extraction job.  Returns run stats.

    Output layout under ``out_root``:
      pages_extracted/bucket=N/*.parquet   (url, warc_ts, lang, text, spans, ...)
      lineage/*.parquet                    (run_id, bucket, counters)
      manifest/*.parquet                   (run_id, bucket, committed_at)
    """
    cfg = cfg or JobConfig()
    if isinstance(pages, str):
        pages = spark.read.parquet(pages)
    cat = Catalog(spark, out_root)
    out_table = cat.table("pages_extracted")

    t_start = time.perf_counter()
    phases: dict[str, float] = {}
    df = prepare_pages(pages, cfg.n_buckets)

    # resume: drop buckets this run already committed (broadcast anti-join)
    done = cat.committed_buckets(cfg.run_id)
    done_ids = [r.bucket for r in done.collect()]  # manifest is tiny by design
    if done_ids:
        df = df.filter(~F.col("bucket").isin(done_ids))

    # skew probe runs eagerly (it is a tiny result by construction), so
    # its cost is visible in phases and the hot set ships as a literal
    # broadcast dim instead of re-running lazily under the join
    t0 = time.perf_counter()
    hot_rows, est_docs, est_bytes = probe_skew(df, cfg)
    phases["probe_s"] = round(time.perf_counter() - t0, 3)
    hot = spark.createDataFrame(hot_rows, "host string, est_docs long")
    df = with_salt(df, hot, cfg)

    parallelism = cfg.parallelism or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    if est_bytes:
        # bound the per-task sort working set regardless of core count
        # (see JobConfig.exchange_partition_bytes)
        parallelism = max(
            parallelism, -(-est_bytes // cfg.exchange_partition_bytes))

    all_buckets = sorted(set(range(cfg.n_buckets)) - set(done_ids))
    chunk = cfg.chunk_buckets or cfg.n_buckets
    chunks = [all_buckets[i:i + chunk] for i in range(0, len(all_buckets), chunk)]

    n_chunks = 0
    for bucket_ids in chunks:
        part = df.filter(F.col("bucket").isin(bucket_ids)) if len(chunks) > 1 else df
        # THE one wide exchange of html: distribute by (bucket, salt).
        # Explicit numPartitions so AQE's size-based coalescing cannot
        # serialize the compute-bound extract stage (html bytes are small
        # relative to the 64MB advisory target, extraction cost is not).
        part = part.repartition(parallelism, "bucket", "salt")
        if cfg.dedup:
            # partition-local external sort (no shuffle): winner capture
            # first within each url group; kernel keeps first per url.
            # warc_ts desc places NULL warc_ts last (a null capture never
            # beats a dated one).  Exact-ts ties break on the raw html
            # bytes (unsigned lexicographic — identically comparable in
            # the JVM, Python and SQL, so the oracle can reproduce the
            # winner), then lang for a total order even on identical
            # payloads with divergent passthrough metadata.
            part = part.sortWithinPartitions(
                "url", F.col("warc_ts").desc(), "html", "lang"
            )
        extracted = extract_pages(
            part,
            payload_col="html",
            passthrough=("url", "warc_ts", "lang", "bucket"),
            all_pages=cfg.all_pages,
            with_spans=cfg.with_spans,
            dedup_first="url" if cfg.dedup else None,
        )
        # narrow exchange of the (much smaller) extracted output,
        # hash-partitioned by bucket alone: every bucket's rows land in
        # exactly one write task, so each bucket partition dir still
        # gets exactly one file (a task owning k buckets writes k dirs
        # as dynamic partitions) — but the task COUNT follows available
        # parallelism, not |buckets| (see JobConfig.write_tasks).
        n_write = cfg.write_tasks or min(parallelism, len(bucket_ids))
        extracted = extracted.repartition(n_write, "bucket")
        t0 = time.perf_counter()
        out_table.overwrite_partitions(extracted, partition_by=("bucket",))
        wall_ms = int((time.perf_counter() - t0) * 1000)

        phases["extract_write_s"] = phases.get("extract_write_s", 0.0) + wall_ms / 1000.0

        # lineage from the landed files (self-verifying read-back; the
        # scan is column-pruned to the four counter columns, so it does
        # not re-read text/spans/html).  The per-bucket rows are tiny:
        # one Spark job, then a driver-side append.
        t0 = time.perf_counter()
        landed = out_table.read().filter(F.col("bucket").isin(bucket_ids))
        lineage = (
            landed.groupBy("bucket")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("n_ok"),
                F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias("n_err"),
                F.sum("bytes_in").alias("bytes_in"),
                F.sum("bytes_out").alias("bytes_out"),
            )
            .withColumn("run_id", F.lit(cfg.run_id))
            .withColumn("wall_ms", F.lit(wall_ms))
            .select("run_id", "bucket", "n_docs", "n_ok", "n_err",
                    "bytes_in", "bytes_out", "wall_ms")
        )
        chunk_rows = lineage.collect()
        if chunk_rows:
            # tiny table: driver-side pyarrow append, no Spark job
            cat.lineage().append_rows(
                [tuple(r) for r in chunk_rows], LINEAGE_SCHEMA
            )
        phases["lineage_s"] = round(
            phases.get("lineage_s", 0.0) + time.perf_counter() - t0, 3)
        # write-then-commit ordering: manifest rows land strictly after data
        t0 = time.perf_counter()
        cat.commit_buckets(cfg.run_id, bucket_ids)
        phases["commit_s"] = round(
            phases.get("commit_s", 0.0) + time.perf_counter() - t0, 3)
        n_chunks += 1

    wall_s = time.perf_counter() - t_start
    totals = _run_totals(cat, cfg.run_id)
    return {
        "run_id": cfg.run_id,
        "wall_s": wall_s,
        "n_chunks": n_chunks,
        "resumed_buckets_skipped": len(done_ids),
        **totals,
        "docs_per_s": (totals["n_docs"] or 0) / wall_s if wall_s else 0.0,
        "gb_per_s": (totals["bytes_in"] or 0) / 1e9 / wall_s if wall_s else 0.0,
        "phases": phases,
    }
