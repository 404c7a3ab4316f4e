"""Subtitle/caption intake: SRT (SubRip) cue parsing.

Video transcripts are prime LLM training text, and they arrive as
timed cue files, not prose.  This module parses the SRT block
structure — index line, ``HH:MM:SS,mmm --> HH:MM:SS,mmm`` timing line
(the WebVTT ``.`` millisecond separator is accepted too), one or more
text lines, blank-line separated — into one row per cue with exact
millisecond extents, the shape downstream ops need (dedup on cue
text, windowed joins against audio_segments extents, duration-weighted
sampling).

Same engine contract as the media parsers (operators/multimodal.py):
the shared Arrow batch path (``extract.map_payloads``), per-payload
error ROWS (never exceptions), the payload column never shuffles.
Reference parity: the reference ingests opaque uploads and emits typed
per-document rows (services/file_processor.py:49-62);
this is the timed-text member of that family.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ocr_spark.operators.multimodal import _map_media

__all__ = ["SRT_SCHEMA", "parse_srt", "srt_cues"]

SRT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("cue_idx", T.IntegerType(), True),
        T.StructField("start_ms", T.LongType(), True),
        T.StructField("end_ms", T.LongType(), True),
        T.StructField("dur_ms", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("n_lines", T.IntegerType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("error_msg", T.StringType(), True),
    ]
)

_TIMING = re.compile(
    r"^(\d{2}):(\d{2}):(\d{2})[,.](\d{3})"
    r"\s*-->\s*"
    r"(\d{2}):(\d{2}):(\d{2})[,.](\d{3})\s*$"
)


def _ts_ms(h: str, m: str, s: str, ms: str) -> int:
    return ((int(h) * 60 + int(m)) * 60 + int(s)) * 1000 + int(ms)


def parse_srt(payload: str) -> list[dict]:
    """Parse an SRT document into cue dicts.  Raises ValueError on a
    malformed block — the operator wrapper turns that into ONE
    parse_error row for the payload.  Timing is re-derived
    arithmetically (hours*3600000 + ...), so an oracle can gate the
    parse bit-for-bit; text lines are joined with a single space (the
    downstream-text normalization every transcript pipeline does)."""
    cues = []
    blocks = re.split(r"\n\s*\n", payload.strip())
    for bi, block in enumerate(blocks, start=1):
        lines = [ln for ln in block.splitlines() if ln.strip()]
        if not lines:
            continue
        if len(lines) < 2:
            raise ValueError(f"cue block {bi} has no timing line")
        try:
            idx = int(lines[0].strip())
        except ValueError:
            raise ValueError(f"bad index line in block {bi}") from None
        m = _TIMING.match(lines[1].strip())
        if not m:
            raise ValueError(f"bad timing line in block {bi}")
        start = _ts_ms(*m.groups()[:4])
        end = _ts_ms(*m.groups()[4:])
        if end < start:
            raise ValueError(f"cue block {bi} ends before it starts")
        text_lines = [ln.strip() for ln in lines[2:]]
        if not text_lines:
            raise ValueError(f"cue block {bi} has no text")
        cues.append({
            "cue_idx": idx,
            "start_ms": start,
            "end_ms": end,
            "dur_ms": end - start,
            "text": " ".join(text_lines),
            "n_lines": len(text_lines),
        })
    if not cues:
        raise ValueError("no cues in payload")
    return cues


def srt_cues(df: DataFrame, payload_col: str = "payload",
             id_col: str = "media_id") -> DataFrame:
    """One row per parsed cue; malformed payloads become ONE
    parse_error row (cue fields NULL)."""
    return _map_media(
        df, lambda p: [{**c, "status": "ok"} for c in parse_srt(str(p))],
        SRT_SCHEMA, payload_col, id_col, explode=True,
        error_status="parse_error")
