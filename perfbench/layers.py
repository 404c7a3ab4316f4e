"""The traced run: per-layer metrics for one workload.

Layers are the program's modules.  Each probe calls a module's public
entry points directly, from this file, inside a span:

* ``extractor.core``  -- ``extract_bytes`` in-process over the rows the
  job extracts (keep-latest winners of the buckets it processes);
* ``plans.pipeline``  -- ``probe_skew``, then prepare -> salt ->
  repartition -> sortWithinPartitions materialised, plus the phases the
  job itself reports and the local[1] side of the scaling pair;
* ``operators.extract`` -- ``extract_pages`` over that already exchanged
  and sorted frame, materialised with a ``noop`` write;
* ``sources.catalog`` -- partition overwrite, manifest read and commit,
  lineage read;
* ``session``         -- ``get_spark`` (timed during set-up).

The same workload's job is also timed in pairs, untraced and with spans
around every layer call it makes; the median in-pair difference is the
tracing overhead.  Spans are written to ``.perfbench/traces/``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from run import DEADLINE_S, WORK, cores, median, restore, spent
from trace import Tracer, instrument_job

__all__ = ["traced_run", "UNITS"]

UNITS = {
    "core.html_us_p50": "us", "core.html_us_p99": "us",
    "core.pdf_us_p50": "us", "core.pdf_us_p99": "us",
    "core.busy_s": "s", "core.mb_per_s": "MB/s", "core.ok_ratio": "ratio",
    "extract.stage_s": "s", "extract.overhead_s": "s",
    "extract.rows_in": "count", "extract.rows_out": "count",
    "extract.dedup_drop_ratio": "ratio",
    "pipeline.probe_s": "s", "pipeline.exchange_s": "s",
    "pipeline.partitions": "count", "pipeline.part_skew": "ratio",
    "pipeline.hot_hosts": "count",
    "pipeline.phase.probe_s": "s", "pipeline.phase.extract_write_s": "s",
    "pipeline.phase.lineage_s": "s", "pipeline.phase.commit_s": "s",
    "pipeline.docs_per_s_p1": "docs/s", "pipeline.scaling_eff": "ratio",
    "catalog.write_s": "s", "catalog.files_written": "count",
    "catalog.bytes_written": "bytes", "catalog.manifest_read_s": "s",
    "catalog.commit_s": "s", "catalog.lineage_read_s": "s",
    "session.start_s": "s",
    "host.busy_cores": "cores", "host.steal_cores": "cores",
    "trace.overhead_s": "s", "trace.spans_per_job": "count",
}


def _pct(xs: list[float], q: float) -> float:
    if not xs:
        return 0.0
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def probe_core(bench, tr: Tracer) -> dict:
    import corpus
    from ocr_spark.extractor.core import extract_bytes

    win = corpus.winners([r for r in bench.rows if r[0] in bench.todo])
    us = {"html": [], "pdf": []}
    busy = 0.0
    n_bytes = n_ok = 0
    with tr.span("extractor.core.extract_bytes"):
        for _url, _ts, html, _lang in win:
            payload = html or b""
            t0 = time.perf_counter()
            r = extract_bytes(payload, all_pages=bench.cfg.all_pages)
            dt = time.perf_counter() - t0
            busy += dt
            n_bytes += len(payload)
            n_ok += r["status"] == "ok"
            if r["doc_kind"] in us:
                us[r["doc_kind"]].append(dt * 1e6)
    return {
        "core.html_us_p50": _pct(us["html"], 0.5),
        "core.html_us_p99": _pct(us["html"], 0.99),
        "core.pdf_us_p50": _pct(us["pdf"], 0.5),
        "core.pdf_us_p99": _pct(us["pdf"], 0.99),
        "core.busy_s": busy,
        "core.mb_per_s": n_bytes / 1e6 / busy if busy else 0.0,
        "core.ok_ratio": n_ok / len(win) if win else 0.0,
    }


def probe_plan(bench, tr: Tracer, core_busy_s: float) -> dict:
    """Pipeline, extract and catalog probes over the job's own plan."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ocr_spark.operators.extract import extract_pages
    from ocr_spark.plans.pipeline import prepare_pages, probe_skew, with_salt
    from ocr_spark.sources.catalog import Catalog

    spark, cfg = bench.spark, bench.cfg
    m: dict = {}
    with tr.span("plans.pipeline"):
        df = prepare_pages(spark.read.parquet(bench.corpus), cfg.n_buckets)
        if bench.done:
            df = df.filter(~F.col("bucket").isin(bench.done))
        with tr.span("plans.pipeline.probe_skew") as s:
            hot_rows, _est_docs, est_bytes = probe_skew(df, cfg)
        m["pipeline.probe_s"] = s["end"] - s["start"]
        m["pipeline.hot_hosts"] = len(hot_rows)
        hot = spark.createDataFrame(hot_rows, "host string, est_docs long")
        parts = cfg.parallelism or int(
            spark.conf.get("spark.sql.shuffle.partitions"))
        if est_bytes:
            parts = max(parts, -(-est_bytes // cfg.exchange_partition_bytes))
        sorted_df = (with_salt(df, hot, cfg)
                     .repartition(parts, "bucket", "salt")
                     .sortWithinPartitions("url", F.col("warc_ts").desc(),
                                           "html", "lang")
                     .persist())
        with tr.span("plans.pipeline.exchange") as s:
            rows_in = sorted_df.count()
        m["pipeline.exchange_s"] = s["end"] - s["start"]
        m["pipeline.partitions"] = parts
        sizes = [r[1] for r in sorted_df.groupBy(F.spark_partition_id())
                 .agg(F.sum(F.octet_length("html"))).collect()]
        m["pipeline.part_skew"] = (max(sizes) / statistics.median(sizes)
                                   if sizes else 0.0)

    def extracted():
        return extract_pages(
            sorted_df, payload_col="html",
            passthrough=("url", "warc_ts", "lang", "bucket"),
            all_pages=cfg.all_pages, with_spans=cfg.with_spans,
            dedup_first="url" if cfg.dedup else None)

    with tr.span("operators.extract.stage") as s:
        obs = Observation("extract")
        extracted().observe(obs, F.count(F.lit(1)).alias("rows")) \
            .write.format("noop").mode("overwrite").save()
    rows_out = obs.get["rows"]
    stage_s = s["end"] - s["start"]
    m.update({
        "extract.stage_s": stage_s,
        "extract.overhead_s": stage_s - core_busy_s / cores(),
        "extract.rows_in": rows_in,
        "extract.rows_out": rows_out,
        "extract.dedup_drop_ratio": (rows_in - rows_out) / rows_in
        if rows_in else 0.0,
    })

    # catalog: overwrite into an empty root (fresh) or a copy of the
    # interrupted root (resume), as the job would
    scratch = os.path.join(WORK, "layers")
    restore(bench.pristine, scratch)
    out = extracted().repartition(
        cfg.write_tasks or min(parts, cfg.n_buckets - len(bench.done)),
        "bucket").persist()
    out.count()
    cat = Catalog(spark, scratch)
    with tr.span("sources.catalog"):
        t_wall = time.time()
        with tr.span("sources.catalog.overwrite_partitions") as s:
            cat.table("pages_extracted").overwrite_partitions(
                out, partition_by=("bucket",))
        m["catalog.write_s"] = s["end"] - s["start"]
        files = [os.path.join(d, f) for d, _, fs in
                 os.walk(os.path.join(scratch, "pages_extracted"))
                 for f in fs if f.endswith(".parquet")]
        new = [f for f in files if os.path.getmtime(f) >= t_wall - 1]
        m["catalog.files_written"] = len(new)
        m["catalog.bytes_written"] = sum(os.path.getsize(f) for f in new)
        job_cat = Catalog(spark, bench.out)
        with tr.span("sources.catalog.committed_buckets") as s:
            job_cat.committed_buckets(cfg.run_id).collect()
        m["catalog.manifest_read_s"] = s["end"] - s["start"]
        with tr.span("sources.catalog.commit_buckets") as s:
            cat.commit_buckets(cfg.run_id, list(range(cfg.n_buckets)))
        m["catalog.commit_s"] = s["end"] - s["start"]
        with tr.span("sources.catalog.lineage_read") as s:
            job_cat.lineage().read().filter(
                F.col("run_id") == cfg.run_id).agg(
                F.sum("n_docs"), F.sum("bytes_in")).collect()
        m["catalog.lineage_read_s"] = s["end"] - s["start"]
    out.unpersist()
    sorted_df.unpersist()
    shutil.rmtree(scratch, ignore_errors=True)
    return m


def scaling_pair(bench, docs_per_s: float, seconds: float,
                 t_start: float) -> tuple[list[dict], dict]:
    """The N side of the N-vs-P pair: the same corpus and job on a fresh
    local[1] context (new executor, task slot and Python worker; the JVM
    is reused, a second cold JVM does not fit a run)."""
    from ocr_spark.session import get_spark

    bench.spark.stop()
    bench.spark = get_spark("perfbench_p1", cores=1)
    bench.job(timed=False)                       # worker spin-up, untimed
    samples = bench.sample_for(seconds, t_start, label="local[1]",
                               min_samples=1)
    p1 = median([len(bench.todo) / s["job_s"]
                 for s in samples if "job_s" in s])
    return samples, {
        "pipeline.docs_per_s_p1": p1,
        "pipeline.scaling_eff": docs_per_s / (cores() * p1) if p1 else 0.0,
    }


def traced_run(bench, setup: dict, seconds: float,
               t_start: float) -> tuple[list[dict], dict]:
    from run import end_to_end

    tr = Tracer()
    half = seconds / 2
    plain: list[dict] = []
    traced: list[dict] = []
    diffs: list[float] = []
    spans: list[int] = []

    def traced_job() -> None:
        n0 = len(tr.spans)
        with instrument_job(tr):
            traced.append(bench.sample(label="traced"))
        spans.append(len(tr.spans) - n0)

    # pairs in ABBA order; the overhead is the median of the in-pair
    # differences, so host drift and the jobs-get-faster curve after
    # warm-up cancel out
    while ((len(plain) < 2 or spent(plain) < half)
           and time.perf_counter() - t_start < DEADLINE_S):
        traced_first = len(plain) % 2 == 1
        if traced_first:
            traced_job()
        plain.append(bench.sample(label="untraced"))
        if not traced_first:
            traced_job()
        if "job_s" in plain[-1] and "job_s" in traced[-1]:
            diffs.append(traced[-1]["job_s"] - plain[-1]["job_s"])
    e2e = end_to_end(bench, setup, plain)
    ok = [s for s in plain if "job_s" in s]
    m: dict = {
        "trace.overhead_s": median(diffs),
        "trace.spans_per_job": median(spans),
        "session.start_s": setup["session.start_s"],
        "host.busy_cores": median([s["busy_cores"] for s in ok]),
        "host.steal_cores": median([s["steal_cores"] for s in ok]),
    }
    for ph in ("probe_s", "extract_write_s", "lineage_s", "commit_s"):
        m[f"pipeline.phase.{ph}"] = median(
            [s["phases"].get(ph, 0.0) for s in ok])
    m.update(probe_core(bench, tr))
    m.update(probe_plan(bench, tr, m["core.busy_s"]))
    p1_samples, p1 = scaling_pair(bench, e2e["docs_per_s"][0], half, t_start)
    m.update(p1)
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    tr.dump(os.path.join(WORK, "traces",
                         f"{bench.name}-seed{bench.seed}.json"))
    return plain + traced + p1_samples, {k: (v, UNITS[k]) for k, v in m.items()}
