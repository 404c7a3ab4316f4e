"""Seeded inputs and the single-process oracle for the benchmark.

The program only ever sees the parquet files written here.  The oracle
re-derives the job's expected output from the same rows with
``extractor.core.extract_bytes`` on the keep-latest winner of every url,
using the job's tie-break contract (``warc_ts`` desc with nulls last,
then html bytes asc, then lang asc), and reduces each expected row to a
digest the checker compares against the committed table.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import multiprocessing as mp
import os
import random

__all__ = ["write_crawl_corpus", "write_pdf_corpus", "read_corpus",
           "winners", "row_key", "digest_rows", "oracle", "rollup"]

CRAWL_CHUNK = 1000          # pages per generator chunk: fixes the seed layout
_EPOCH = dt.datetime(2024, 1, 1)
_WORDS = ("layout", "column", "report", "figure", "table", "section",
          "result", "method", "quarter", "revenue", "storage", "engine",
          "network", "index", "review", "policy", "summary", "appendix",
          "annual", "measure", "sample", "budget", "record", "system")


def write_crawl_corpus(dir_path: str, n: int, seed: int, procs: int) -> int:
    """Common-Crawl-like pages through the program's own generator:
    boilerplate-heavy articles, ~5% recaptures of one url, a giant-page
    hot host and every edge genre.  ``CRAWL_CHUNK`` (not ``procs``)
    decides the chunk seeds, so a seed gives the same rows on any host."""
    from ocr_spark.data.synth import write_pages_parquet_parallel

    return write_pages_parquet_parallel(
        dir_path, n, seed=seed, workers=max(1, procs), chunk=CRAWL_CHUNK,
        size_mult=2, boiler_mult=4)


def _line(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _column_stream(rng: random.Random, page_no: int) -> bytes:
    """One single-column page: a few blocks of lines, text on the page."""
    parts = ["BT", "/F1 12 Tf", "16 TL"]
    y = 760
    for b in range(rng.randint(2, 5)):
        for _ in range(rng.randint(3, 7)):
            parts += [f"1 0 0 1 72 {y} Tm",
                      f"({_esc(_line(rng, 5, 11))} p{page_no}b{b}) Tj"]
            y -= 16
        y -= 40
    parts.append("ET")
    return "\n".join(parts).encode("latin-1")


def _two_column_stream(rng: random.Random, page_no: int) -> bytes:
    """A title band above a two-column body sharing baselines, laid out
    with the constants ``build_pdf_two_column`` uses (the XY-cut must
    find the gutter to read one column after the other)."""
    from ocr_spark.data import synth

    parts = ["BT", "/F1 12 Tf", f"{synth.TWOCOL_LEADING} TL",
             f"1 0 0 1 {synth.TWOCOL_LEFT_X} {synth.TWOCOL_TITLE_Y} Tm",
             f"({_esc(_line(rng, 2, 5))} page {page_no}) Tj"]
    n = rng.randint(8, 20)
    for x in (synth.TWOCOL_LEFT_X, synth.TWOCOL_RIGHT_X):
        for i in range(n):
            word = rng.choice(_WORDS)[:synth.TWOCOL_TOKEN_CAP]
            y = synth.TWOCOL_BODY_Y - synth.TWOCOL_LEADING * i
            parts += [f"1 0 0 1 {x} {y} Tm", f"({word}) Tj"]
    parts.append("ET")
    return "\n".join(parts).encode("latin-1")


def _pdf_doc(rng: random.Random) -> bytes:
    from ocr_spark.data.synth import (build_pdf, build_pdf_from_streams,
                                      build_pdf_two_column)

    compress = rng.random() < 0.5            # half FlateDecode
    r = rng.random()
    if r < 0.5:                              # multi-page, mixed layouts
        streams = [(_two_column_stream if rng.random() < 0.3
                    else _column_stream)(rng, p)
                   for p in range(rng.randint(2, 6))]
        return build_pdf_from_streams(streams, compress=compress)
    if r < 0.8:                              # every text operator style
        blocks = [[_line(rng, 4, 10) for _ in range(rng.randint(2, 6))]
                  for _ in range(rng.randint(2, 5))]
        return build_pdf(blocks, n_pages=rng.randint(1, 4), rng=rng,
                         compress=compress)
    n = rng.randint(6, 16)
    return build_pdf_two_column(
        _line(rng, 2, 6),
        [rng.choice(_WORDS) for _ in range(n)],
        [rng.choice(_WORDS) for _ in range(n)], compress=compress)


def write_pdf_corpus(dir_path: str, n: int, seed: int,
                     dup_frac: float = 0.05) -> int:
    """A PDF-only corpus from synth's public PDF builders; ``dup_frac``
    of rows are later recaptures of an earlier url with new bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    urls, tss, docs = [], [], []
    for i in range(n):
        urls.append(f"https://docs{rng.randint(0, 19)}.example.org/pdf/{i}")
        tss.append(_EPOCH + dt.timedelta(seconds=rng.randint(0, 365 * 86400)))
        docs.append(_pdf_doc(rng))
        if rng.random() < dup_frac:
            j = rng.randrange(len(urls))
            urls.append(urls[j])
            tss.append(tss[j] + dt.timedelta(days=1))
            docs.append(_pdf_doc(rng))
    os.makedirs(dir_path, exist_ok=True)
    pq.write_table(pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(tss, pa.timestamp("us")),
        "html": pa.array(docs, pa.binary()),
        "text": pa.array([""] * len(urls), pa.string()),
        "lang": pa.array(["en"] * len(urls), pa.string()),
    }), os.path.join(dir_path, "part-00000.parquet"))
    return len(urls)


def read_corpus(path: str) -> list[tuple]:
    """(url, warc_ts as epoch micros or None, html, lang) per input row."""
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet").to_table(
        columns=["url", "warc_ts", "html", "lang"])
    ts = t.column("warc_ts").cast("int64").to_pylist()
    return list(zip(t.column("url").to_pylist(), ts,
                    t.column("html").to_pylist(), t.column("lang").to_pylist()))


def winners(rows: list[tuple]) -> list[tuple]:
    """Keep-latest capture per url under the job's tie-break contract."""
    def rank(r):
        _url, ts, html, lang = r
        return (ts is None, -(ts or 0), html or b"", lang or "")

    best: dict[str, tuple] = {}
    for r in rows:
        cur = best.get(r[0])
        if cur is None or rank(r) < rank(cur):
            best[r[0]] = r
    return [best[u] for u in sorted(best)]


def row_key(url, ts, lang, text, spans, n_blocks, status, error_msg,
            doc_kind, bytes_in, bytes_out) -> str:
    """Digest of one output row over every column but ``extract_ms``
    (wall-clock metadata) and the bucket (checked through the manifest
    and lineage instead)."""
    canon = repr((url, ts, lang, text,
                  [tuple(s) for s in spans] if spans is not None else None,
                  n_blocks, status, error_msg, doc_kind, bytes_in, bytes_out))
    return hashlib.blake2b(canon.encode("utf-8", "surrogatepass"),
                           digest_size=16).hexdigest()


def digest_rows(args: tuple) -> list[tuple]:
    """Pool task: expected (url, digest, status, bytes_in, bytes_out)."""
    rows, all_pages = args
    from ocr_spark.extractor.core import extract_bytes

    out = []
    for url, ts, html, lang in rows:
        payload = html or b""
        r = extract_bytes(payload, all_pages=all_pages)
        b_out = len(r["text"].encode("utf-8"))
        out.append((url, row_key(url, ts, lang, r["text"], r["spans"],
                                 r["n_blocks"], r["status"], r["error_msg"],
                                 r["doc_kind"], len(payload), b_out),
                    r["status"], len(payload), b_out))
    return out


def oracle(win: list[tuple], all_pages: bool, procs: int) -> dict:
    """url -> (digest, status, bytes_in, bytes_out) over the winner rows,
    in a pool of ``procs`` spawned workers (this process may
    already hold threads, so workers are not forked)."""
    step = max(1, -(-len(win) // (4 * procs)))
    tasks = [(win[i:i + step], all_pages) for i in range(0, len(win), step)]
    if procs <= 1:
        parts = [digest_rows(t) for t in tasks]
    else:
        with mp.get_context("spawn").Pool(procs) as pool:
            parts = pool.map(digest_rows, tasks)
    return {u: tuple(rest) for part in parts for u, *rest in part}


def rollup(expected: dict) -> str:
    """One digest over a whole expected table (golden files store this)."""
    h = hashlib.blake2b(digest_size=16)
    for url in sorted(expected):
        h.update(f"{url}\t{expected[url][0]}\n".encode("utf-8", "surrogatepass"))
    return h.hexdigest()
