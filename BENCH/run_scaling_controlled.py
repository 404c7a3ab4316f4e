"""Contention-controlled scaling measurement.

Problem: this VM shares hardware with invisible co-tenants.  local[8]
walls are stable (steal eats idle headroom first) but local[32] walls
swing >2x run-to-run, so a raw T(8)/(4*T(32)) efficiency is a lottery
on the measurement window, not a property of the engine.

Method: in each WINDOW, run back-to-back
    [control@high, job@high, control@low, job@low]
where control = the same extraction kernel under plain multiprocessing
(BENCH/cpu_control.py logic — no Spark, no shuffle, no I/O).  Within a
window the control and the job see ~the same co-tenant load, so

    job_eff_w   = Tjob(low) / (r * Tjob(high)),      r = high/low
    ctrl_eff_w  = Tctrl(low) / (r * Tctrl(high))
    share_w     = job_eff_w / ctrl_eff_w

``share_w`` is the fraction of *attainable* scaling the engine
achieves — the engine-controlled quantity.  Reports per-window numbers
plus medians; writes BENCH/scaling_controlled.json.

Usage: python BENCH/run_scaling_controlled.py
         [--corpus PATH] [--windows 2] [--low 8] [--high 32]
         [--ctrl-pages 30000]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from cpu_control import run_once as ctrl_run_once  # noqa: E402  (same dir)


def job_run(corpus: str, cores: int, tag: str) -> dict:
    out = os.path.join("/tmp/ocr_spark_bench", f"ctl_out_{tag}")
    import shutil
    shutil.rmtree(out, ignore_errors=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    env.setdefault("SPARK_LOCAL_DIRS", "/tmp/ocr_spark_bench/spark_scratch")
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "job.py"),
         "--input", corpus, "--output", out,
         "--cores", str(cores), "--run-id", tag, "--buckets", "64"],
        capture_output=True, text=True, env=env, cwd=ROOT, timeout=3600,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-1000:] + proc.stderr[-3000:])
        raise RuntimeError(f"job failed at local[{cores}]")
    shutil.rmtree(out, ignore_errors=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus",
                    default=".cache/scaling_pages_700k_m8b8_v2.parquet")
    ap.add_argument("--windows", type=int, default=2)
    ap.add_argument("--low", type=int, default=8)
    ap.add_argument("--high", type=int, default=32)
    ap.add_argument("--ctrl-pages", type=int, default=30000)
    args = ap.parse_args()

    from ocr_spark.data.synth import gen_pages
    ctrl_pages = [r["html"] for r in
                  gen_pages(args.ctrl_pages, seed=42, size_mult=8,
                            boiler_mult=8)]

    r = args.high / args.low
    windows = []
    for w in range(args.windows):
        t0 = time.perf_counter()
        ch = ctrl_run_once(ctrl_pages, args.high)
        jh = job_run(args.corpus, args.high, f"w{w}h")
        cl = ctrl_run_once(ctrl_pages, args.low)
        jl = job_run(args.corpus, args.low, f"w{w}l")
        job_eff = jl["wall_s"] / (r * jh["wall_s"])
        ctrl_eff = cl / (r * ch)
        win = {
            "window": w,
            "ctrl_high_s": round(ch, 2), "ctrl_low_s": round(cl, 2),
            "job_high_s": round(jh["wall_s"], 1),
            "job_low_s": round(jl["wall_s"], 1),
            "job_docs_per_s_high": round(jh["docs_per_s"], 1),
            "job_docs_per_s_low": round(jl["docs_per_s"], 1),
            "job_eff": round(job_eff, 3),
            "ctrl_eff": round(ctrl_eff, 3),
            "share_of_attainable": round(job_eff / ctrl_eff, 3),
            "window_wall_s": round(time.perf_counter() - t0, 1),
        }
        windows.append(win)
        print(json.dumps(win))

    med = lambda k: statistics.median(w[k] for w in windows)
    summary = {
        "corpus": args.corpus,
        "low": args.low, "high": args.high,
        "windows": windows,
        "median_job_eff": round(med("job_eff"), 3),
        "median_ctrl_eff": round(med("ctrl_eff"), 3),
        "median_share_of_attainable": round(med("share_of_attainable"), 3),
    }
    with open(os.path.join(ROOT, "BENCH", "scaling_controlled.json"), "w") as f:
        json.dump(summary, f, indent=2)
    print(json.dumps({k: v for k, v in summary.items() if k != "windows"}))


if __name__ == "__main__":
    main()
