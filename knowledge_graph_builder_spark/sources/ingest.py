"""Binary-document ingest (reference S2, `POST /upload` — main.py:101-119,
utils.py:4-17): PDFs and other binary documents become single-turn
conversations.

The reference used PyPDF2 (not in this container), so the page-text
extraction is STUBBED behind an Arrow kernel: ``fake=True`` (default)
extracts the printable-ASCII runs of the payload (deterministic, enough to
exercise the plumbing); ``fake=False`` raises NotImplementedError at the
decode site. The Spark side — binaryFile scan, kernel batch shape,
transcript projection — is real: swap the stub for a pypdf call and the
operator is production-complete.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

EXTRACTED = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)

_PRINTABLE_RUN = re.compile(rb"[\x20-\x7e]{4,}")


def _fake_pdf_text(payload: bytes) -> str:
    """Deterministic stand-in for PyPDF2 page-text extraction: printable
    ASCII runs joined with newlines (mirrors the reference's per-page
    '\\n'.join + strip, utils.py:9-14)."""
    if not payload:
        return ""
    runs = [m.group(0).decode("ascii") for m in _PRINTABLE_RUN.finditer(payload)]
    return "\n".join(runs).strip()


def _pypdf_text(payload: bytes) -> str:
    """Real page-text extraction, matching the reference's per-page
    '\\n'.join + strip (utils.py:9-14)."""
    import io

    try:
        from pypdf import PdfReader
    except ImportError:  # pragma: no cover - legacy name
        from PyPDF2 import PdfReader

    if not payload:
        return ""
    reader = PdfReader(io.BytesIO(payload))
    return "\n".join((page.extract_text() or "") for page in reader.pages).strip()


def extract_text(binary_docs: DataFrame, fake: bool | None = None) -> DataFrame:
    """(path, content) -> (path, text) via an Arrow-batched kernel.
    ``fake=None`` probes for pypdf/PyPDF2 per worker (capabilities.py) and
    uses the real extractor when importable."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..capabilities import has_pypdf, resolve_fake

        use_fake = resolve_fake(fake, has_pypdf)
        if not use_fake and not has_pypdf():
            raise NotImplementedError("real PDF extraction requires pypdf, not in this container")
        extract = _fake_pdf_text if use_fake else _pypdf_text
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "path": pdf["path"],
                    "text": [extract(bytes(c) if c is not None else b"") for c in pdf["content"]],
                }
            )

    return binary_docs.select("path", "content").mapInPandas(kernel, schema=EXTRACTED)


def to_transcripts(extracted: DataFrame) -> DataFrame:
    """One uploaded document = one single-turn conversation (the reference
    delegates /upload to the same build path — main.py:116-119)."""
    return extracted.select(
        F.concat(F.lit("upload-"), F.md5("path")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit("").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
