"""Closed-loop benchmark of the production extraction job.

    python3 perfbench/run.py --workload crawl_extract --seed 1 \
        --seconds 15 --trace 0

One driver process runs one ``run_extraction_job`` at a time on
``local[<usable cores>]`` and, after every timed job, checks the
committed table, manifest and lineage byte-for-byte against the
single-process oracle (``perfbench/corpus.py``).  ``--trace 0`` prints
the end-to-end metrics; ``--trace 1`` runs the job with and without
spans, probes each layer on its own (``perfbench/layers.py``) and prints
the per-layer metrics.  Per-sample records go to stdout as
``{"sample": ...}`` lines; the last stdout line is the result.

Everything the run writes stays under ``.perfbench/`` at the checkout
root; span files are kept in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
GOLDEN = os.path.join(HERE, "golden.json")

# pages per corpus; "tiny" is for the benchmark's own tests
SIZES = {"full": {"crawl": 2000, "pdf": 2000},
         "tiny": {"crawl": 150, "pdf": 80}}
CANARY = {"crawl": 300, "pdf": 150}   # golden corpora, always at seed 0
WORKLOADS = {
    # name: (corpus kind, JobConfig overrides, resume from a partial root)
    "crawl_extract": ("crawl", {}, False),
    "pdf_layout": ("pdf", {"all_pages": True}, False),
    "recrawl_resume": ("crawl", {}, True),
}
MIN_SAMPLES = 3         # the median drops one job a noisy neighbour slowed
DEADLINE_S = 140        # stop sampling past this, whatever --seconds says


def cores() -> int:
    return len(os.sched_getaffinity(0))


def configure_env() -> None:
    """Point the program at this host before pyspark is imported: heap
    sized from MemTotal, one task slot per usable core, every scratch
    file inside the checkout, workers able to import ``ocr_spark``."""
    import tempfile

    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    heap_mb = max(1024, min(4096, mem_mb // 8))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_SUBMIT_OPTS": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                              f"-XX:ErrorFile={WORK}/hs_err_pid%p.log"),
    })
    tempfile.tempdir = tmp


def median(xs):
    return statistics.median(xs) if xs else 0.0


def restore(src: str, dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    if src:
        shutil.copytree(src, dst)


def perturb_one_row(root: str) -> None:
    """Fault injection for the benchmark's tests: change the text of one
    committed row, as a wrong kernel or writer would."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    for path in sorted(glob.glob(os.path.join(
            root, "pages_extracted", "bucket=*", "*.parquet"))):
        t = pq.read_table(path)
        if t.num_rows:
            text = t.column("text").to_pylist()
            text[0] = (text[0] or "") + "!"
            i = t.schema.get_field_index("text")
            pq.write_table(t.set_column(i, "text", pa.array(text, pa.string())),
                           path)
            return


class Bench:
    """One workload: its corpus, oracle, output roots and timed job."""

    def __init__(self, workload: str, seed: int, size: str,
                 perturb: bool = False):
        from ocr_spark.plans.pipeline import JobConfig

        self.name = workload
        self.kind, overrides, self.resume = WORKLOADS[workload]
        self.seed = seed
        self.n_pages = SIZES[size][self.kind]
        self.perturb = perturb
        self.cfg = JobConfig(run_id="bench", **overrides)
        self.corpus = os.path.join(WORK, "corpus")
        self.out = os.path.join(WORK, "out")
        self.pristine = ""           # pre-resume root (recrawl_resume)
        self.done: list[int] = []    # buckets committed before the resume
        self.problems: list[str] = []
        self.spark = None

    # -- set-up ---------------------------------------------------------
    def write_corpus(self, path: str, n: int, seed: int) -> None:
        import corpus

        if self.kind == "crawl":
            corpus.write_crawl_corpus(path, n, seed, cores())
        else:
            corpus.write_pdf_corpus(path, n, seed)

    def golden_problem(self) -> str | None:
        """Rollup of the oracle over the seed-0 canary corpus against the
        committed one in ``golden.json``."""
        import corpus

        canary = os.path.join(WORK, "canary")
        self.write_corpus(canary, CANARY[self.kind], 0)
        # in-process: a few hundred small docs cost less than a pool start
        got = corpus.rollup(corpus.oracle(
            corpus.winners(corpus.read_corpus(canary)), self.cfg.all_pages, 1))
        with open(GOLDEN) as f:
            want = json.load(f).get(self.name)
        if got != want:
            return (f"golden rollup {got} != committed {want}: the "
                    f"kernel's output changed on the seed-0 canary corpus")
        return None

    def setup(self) -> dict:
        """``setup_s`` times what a user of the job pays before the first
        result too: the inputs and their oracle digests, the Spark
        session and the cold first job.  The golden canary, the
        interrupted root and a second warm-up job are the benchmark's
        own and run after it."""
        import corpus

        t0 = time.perf_counter()
        self.write_corpus(self.corpus, self.n_pages, self.seed)
        self.rows = corpus.read_corpus(self.corpus)
        self.expected = corpus.oracle(corpus.winners(self.rows),
                                      self.cfg.all_pages, cores())
        t1 = time.perf_counter()
        from ocr_spark.session import get_spark

        self.spark = get_spark(
            "perfbench", extra={"spark.sql.warehouse.dir":
                                os.path.join(WORK, "warehouse")})
        t2 = time.perf_counter()
        # the cold job (its check is not timed): its output is also the
        # fresh reference
        warm = self.job(timed=False)
        t3 = time.perf_counter()
        cold_job_s = warm.get("job_s", warm["wall_s"])
        self.bucket_of = warm["buckets"]
        problem = self.golden_problem()
        if problem:
            self.problems.append(problem)
        if self.resume:
            self.build_pristine()
        # one more untimed job of the workload's own kind: the first jobs
        # on a fresh JVM keep getting faster (JIT, first touch of the
        # pinned heap; for a resume, its own code paths are still cold)
        for rec in (warm, self.job(timed=False)):
            self.problems += [f"warm-up: {p}" for p in rec["problems"]]
        done = set(self.done)
        self.todo = {u for u, b in self.bucket_of.items() if b not in done}
        self.html_bytes = sum(len(r[2] or b"") for r in self.rows
                              if r[0] in self.todo)
        return {"setup_s": t2 - t0 + cold_job_s, "inputs_s": t1 - t0,
                "session.start_s": t2 - t1, "cold_job_s": cold_job_s,
                "untimed_s": time.perf_counter() - t3}

    def build_pristine(self) -> None:
        """Turn the warm-up output into an interrupted run's root: 3/4 of
        the buckets committed (data + lineage + manifest), 1/8 missing
        and 1/8 orphans (stale data written, never committed).

        The buckets left to redo are one seeded pick from each group of
        four buckets of similar html volume, so a resume always carries
        about a quarter of the corpus bytes whichever buckets the few
        multi-MB pages hash to."""
        import random
        from collections import Counter

        import pyarrow as pa
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        nb = self.cfg.n_buckets
        volume = Counter()
        for url, _ts, html, _lang in self.rows:
            volume[self.bucket_of[url]] += len(html or b"")
        by_volume = sorted(range(nb), key=lambda b: (-volume[b], b))
        rng = random.Random(self.seed)
        redo = [rng.choice(by_volume[i:i + 4]) for i in range(0, nb, 4)]
        orphans, missing = redo[0::2], redo[1::2]
        self.done = sorted(set(range(nb)) - set(redo))
        done = set(self.done)
        root = os.path.join(WORK, "pristine")
        restore(self.out, root)
        for tbl in ("manifest", "lineage"):
            path = os.path.join(root, tbl)
            t = ds.dataset(path, format="parquet").to_table()
            shutil.rmtree(path)
            os.makedirs(path)
            keep = [b in done for b in t.column("bucket").to_pylist()]
            pq.write_table(t.filter(keep), os.path.join(path, "part-0.parquet"))
        table = os.path.join(root, "pages_extracted")
        for b in missing:
            shutil.rmtree(os.path.join(table, f"bucket={b}"),
                          ignore_errors=True)
        for b in orphans:
            bdir = os.path.join(table, f"bucket={b}")
            if not os.path.isdir(bdir):
                continue
            t = ds.dataset(bdir, format="parquet").to_table()
            shutil.rmtree(bdir)
            os.makedirs(bdir)
            stale = t.slice(0, (t.num_rows + 1) // 2)
            i = stale.schema.get_field_index("text")
            stale = stale.set_column(i, "text", pa.array(
                ["stale orphan"] * stale.num_rows, stale.schema.field(i).type))
            pq.write_table(stale, os.path.join(bdir, "part-orphan.parquet"))
        self.pristine = root

    # -- one job ----------------------------------------------------------
    def job(self, timed: bool = True) -> dict:
        """Run and check one job; reset of the output root is untimed."""
        from check import check_output
        from meter import TreeMeter
        from ocr_spark.plans.pipeline import run_extraction_job

        restore(self.pristine, self.out)
        rec: dict = {"problems": []}
        t_try = time.perf_counter()
        try:
            with TreeMeter(jvm_pid()) as m:
                t0 = time.perf_counter()
                stats = run_extraction_job(self.spark, self.corpus, self.out,
                                           self.cfg)
                rec["job_s"] = time.perf_counter() - t0
            if self.perturb and timed:
                perturb_one_row(self.out)
            problems, buckets = check_output(
                self.out, self.cfg.run_id, self.expected, self.cfg.n_buckets,
                stats)
            if stats["resumed_buckets_skipped"] != len(self.done):
                problems.append(f"skipped {stats['resumed_buckets_skipped']} "
                                f"buckets, {len(self.done)} were committed")
            if self.pristine and buckets != self.bucket_of:
                # digests already equal the oracle, as the fresh run's did
                problems.append("resumed table buckets differ from fresh run")
        except Exception as e:   # a failed job is a sample, not a crash
            problems, buckets, stats = [f"{type(e).__name__}: {e}"], {}, {}
        rec.update(problems=problems, buckets=buckets,
                   wall_s=time.perf_counter() - t_try,
                   phases=stats.get("phases", {}),
                   peak_rss_mb=m.peak_rss_mb, busy_cores=m.busy_cores,
                   steal_cores=m.steal_cores)
        return rec

    def sample(self, label: str = "job") -> dict:
        """One timed, checked job, reported on its own stdout line."""
        rec = self.job()
        print(json.dumps({"sample": {
            "workload": self.name, "kind": label, "job_s": rec.get("job_s"),
            "ok": not rec["problems"],
            "peak_rss_mb": round(rec["peak_rss_mb"], 1),
            "host.busy_cores": round(rec["busy_cores"], 3),
            "host.steal_cores": round(rec["steal_cores"], 3),
            "problems": rec["problems"][:3]}}), flush=True)
        return rec

    def sample_for(self, seconds: float, t_start: float, label: str = "job",
                   min_samples: int = MIN_SAMPLES) -> list[dict]:
        """Timed jobs until ``seconds`` of job time and ``min_samples``."""
        out: list[dict] = []
        while ((len(out) < min_samples or spent(out) < seconds)
               and time.perf_counter() - t_start < DEADLINE_S):
            out.append(self.sample(label))
        return out

    def close(self) -> None:
        stop_spark(self.spark)
        self.spark = None


def spent(samples: list[dict]) -> float:
    """Seconds the attempts took; a failed job counts its wall time."""
    return sum(s.get("job_s", s["wall_s"]) for s in samples)


def jvm_pid() -> int:
    """The gateway JVM: the root of the program's process tree (its
    Python workers are its descendants)."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_spark(spark) -> None:
    """Stop the session, then its JVM, and wait until the JVM and every
    process it started (Python workers) have ended."""
    if spark is None:
        return
    from pyspark import SparkContext

    from meter import descendants

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()       # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(alive(p) for p in kids):
        time.sleep(0.1)


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def end_to_end(bench: Bench, setup: dict, samples: list[dict]) -> dict:
    ok = [s for s in samples if "job_s" in s]
    job_s = [s["job_s"] for s in ok]
    return {
        "setup_s": (setup["setup_s"], "s"),
        "job_s": (median(job_s), "s"),
        "docs_per_s": (median([len(bench.todo) / t for t in job_s]),
                       "docs/s"),
        "html_mb_per_s": (median([bench.html_bytes / 1e6 / t for t in job_s]),
                          "MB/s"),
        "peak_rss_mb": (median([s["peak_rss_mb"] for s in ok]), "MB"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--perturb-one-row", action="store_true",
                    help="corrupt one committed row after every timed job "
                         "(tests that the check counts it as a failure)")
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        sys.exit(f"another benchmark run holds {WORK}")
    for d in ("corpus", "out", "pristine", "canary", "layers"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    configure_env()
    sys.path.insert(0, ROOT)
    # without the program this raises before any result is printed
    bench = Bench(args.workload, args.seed, args.size, args.perturb_one_row)
    try:
        setup = bench.setup()
        print(json.dumps({"setup": setup}), flush=True)
        if args.trace:
            import layers

            samples, metrics = layers.traced_run(bench, setup, args.seconds,
                                                 t_start)
        else:
            samples = bench.sample_for(args.seconds, t_start)
            metrics = end_to_end(bench, setup, samples)
    finally:
        bench.close()
        from multiprocessing import resource_tracker
        resource_tracker._resource_tracker._stop()   # spawn pools' helper
        for d in ("corpus", "canary", "out", "pristine", "layers",
                  "spark-local"):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    failed = sum(1 for s in samples if s["problems"])
    for p in bench.problems:
        print(json.dumps({"problem": p}), flush=True)
    print(json.dumps({
        "correct": failed == 0 and not bench.problems,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
