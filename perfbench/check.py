"""Checks a committed job output root against the oracle.

Reads the table, manifest and lineage with pyarrow (no Spark), so a
check costs no Spark job and cannot be fooled by the engine it checks.
"""

from __future__ import annotations

import os
from collections import Counter

from corpus import row_key

__all__ = ["read_output", "check_output"]

_COLS = ["url", "warc_ts", "lang", "text", "spans", "n_blocks", "status",
         "error_msg", "doc_kind", "bytes_in", "bytes_out", "bucket"]


def _dataset(path: str):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive")


def read_output(root: str) -> tuple[list[str], dict, dict]:
    """-> (urls in table order, url -> row digest, url -> bucket)."""
    t = _dataset(os.path.join(root, "pages_extracted")).to_table(columns=_COLS)
    cols = {c: t.column(c) for c in _COLS}
    cols["warc_ts"] = cols["warc_ts"].cast("int64")
    vals = [cols[c].to_pylist() for c in _COLS]
    i = _COLS.index("spans")
    vals[i] = [None if sp is None else
               [(s["start"], s["end"], s["kind"]) for s in sp]
               for sp in vals[i]]
    urls, digests, buckets = [], {}, {}
    for row in zip(*vals):
        url = row[0]
        urls.append(url)
        digests[url] = row_key(*row[:-1])
        buckets[url] = row[-1]
    return urls, digests, buckets


def _rows(root: str, table: str, run_id: str) -> list[dict]:
    path = os.path.join(root, table)
    if not os.path.isdir(path):
        return []
    return [r for r in _dataset(path).to_table().to_pylist()
            if r["run_id"] == run_id]


def check_output(root: str, run_id: str, expected: dict, n_buckets: int,
                 stats: dict | None = None) -> tuple[list[str], dict]:
    """Compare ``root`` with ``expected`` (url -> (digest, status,
    bytes_in, bytes_out)).  Returns (problems, url -> bucket); an empty
    problem list means the output is correct."""
    problems: list[str] = []
    urls, got, buckets = read_output(root)
    dup = len(urls) - len(got)
    if dup:
        problems.append(f"{dup} duplicate url rows")
    missing = expected.keys() - got.keys()
    extra = got.keys() - expected.keys()
    if missing or extra:
        problems.append(f"url sets differ: {len(missing)} missing, "
                        f"{len(extra)} unexpected")
    bad = sorted(u for u in expected.keys() & got.keys()
                 if got[u] != expected[u][0])
    if bad:
        problems.append(f"{len(bad)} rows differ from the oracle, "
                        f"e.g. {bad[:3]}")

    manifest = Counter(r["bucket"] for r in _rows(root, "manifest", run_id))
    if set(manifest) != set(range(n_buckets)) or any(
            c != 1 for c in manifest.values()):
        problems.append(f"manifest covers {len(manifest)} of {n_buckets} "
                        f"buckets, {sum(manifest.values())} rows")

    lineage = _rows(root, "lineage", run_id)
    per_bucket = Counter(buckets.values())
    lin_buckets = Counter(r["bucket"] for r in lineage)
    if any(c != 1 for c in lin_buckets.values()):
        problems.append("a bucket has more than one lineage row")
    if {r["bucket"]: r["n_docs"] for r in lineage} != dict(per_bucket):
        problems.append("lineage n_docs per bucket differ from the table")
    want = {
        "n_docs": len(expected),
        "n_ok": sum(1 for v in expected.values() if v[1] == "ok"),
        "n_err": sum(1 for v in expected.values() if v[1] != "ok"),
        "bytes_in": sum(v[2] for v in expected.values()),
        "bytes_out": sum(v[3] for v in expected.values()),
    }
    lin_tot = {k: sum(r[k] or 0 for r in lineage) for k in want}
    if lin_tot != want:
        problems.append(f"lineage totals {lin_tot} != oracle {want}")
    if stats is not None:
        got_tot = {k: stats.get(k) for k in want}
        if got_tot != want:
            problems.append(f"job stats {got_tot} != oracle {want}")
    return problems, buckets
