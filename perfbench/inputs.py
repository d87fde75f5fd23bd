"""Seeded benchmark inputs, built from the ``caraspark.synth`` recipes.

Every table is a plain ``documents_raw`` parquet file written with pyarrow:
the program under test sees only those bytes.  The seed picks the recipe
order, the HTML content (each HTML recipe draws from its own rng), the
url namespace and the positions of the giant PDFs, so two seeds give two
different tables of the same shape and the same seed gives the same bytes.
"""

from __future__ import annotations

import hashlib
import os
import random
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from caraspark.synth import HTML_RECIPES, LANGS, PDF_RECIPES, pdf_giant

GIANT_LINES = 50_000  # ~128 KiB compressed, ~0.7 s of lexer work per doc
GIANT_THRESHOLD = 64 * 1024  # routes only the giants: every recipe is < 5 KiB

RAW_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), False),
        pa.field("warc_ts", pa.timestamp("us"), True),
        pa.field("html", pa.binary(), True),
        pa.field("text", pa.string(), True),
        pa.field("lang", pa.string(), True),
    ]
)

_BASE_TS = datetime(2026, 1, 1)
_PDF_CACHE: dict[str, bytes] = {}


def _pdf(name: str) -> bytes:
    # PDF recipes take no rng: their bytes are fixed, so build each once
    if name not in _PDF_CACHE:
        _PDF_CACHE[name] = (
            pdf_giant(GIANT_LINES) if name == "pdf_giant" else PDF_RECIPES[name]()
        )
    return _PDF_CACHE[name]


def _is_pdf(blob: bytes) -> bool:
    return b"%PDF-" in blob[:1024]  # the engine's own routing test


def _doc(seed: int, i: int, name: str, ts_shift: int = 0) -> dict:
    if name in HTML_RECIPES:
        blob = HTML_RECIPES[name](random.Random(f"{seed}:{name}:{i}"))
    else:
        blob = _pdf(name)
    return {
        "url": f"https://s{seed}.synth.example/{name}/{i}",
        "warc_ts": _BASE_TS + timedelta(seconds=(i * 37 + ts_shift) % 2_592_000),
        "html": blob,
        "text": None,
        "lang": LANGS[i % len(LANGS)],
    }


def crawl_docs(seed: int, n: int, giants: int) -> list[dict]:
    """Writer-order crawl mix: the 79 recipes cycled in a seed-shuffled
    order (60 PDF : 19 HTML, so 76% PDF by count), with ``giants`` docs
    replaced by giant PDFs at seed-chosen, scattered positions."""
    rng = random.Random(f"crawl:{seed}")
    names = sorted(PDF_RECIPES) + sorted(HTML_RECIPES)
    rng.shuffle(names)
    giant_at = set(rng.sample(range(n), giants))
    return [
        _doc(seed, i, "pdf_giant" if i in giant_at else names[i % len(names)])
        for i in range(n)
    ]


def html_recrawl_docs(seed: int, base: list[dict], n: int) -> list[dict]:
    """HTML-only re-crawl batch: up to half of it re-fetches HTML urls of
    ``base`` (fresh content, later timestamp), the rest is new urls."""
    rng = random.Random(f"recrawl:{seed}")
    old_html = [d for d in base if not _is_pdf(d["html"])]
    refetch = rng.sample(old_html, min(n // 2, len(old_html)))
    html_names = sorted(HTML_RECIPES)
    out = []
    for d in refetch:
        name, i = d["url"].rsplit("/", 2)[1:]
        fresh = _doc(seed + 1, int(i), name, ts_shift=86_400)
        fresh["url"] = d["url"]
        out.append(fresh)
    for j in range(n - len(out)):
        out.append(_doc(seed, 1_000_000 + j, html_names[j % len(html_names)]))
    rng.shuffle(out)
    return out


def write_table(docs: list[dict], path: str, row_group_rows: int = 512) -> None:
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    table = pa.Table.from_pylist(docs, schema=RAW_SCHEMA)
    pq.write_table(table, path, row_group_size=row_group_rows)


def properties(docs: list[dict]) -> dict:
    """Measured properties of an input table (recorded with every result)."""
    n = len(docs)
    sizes = [len(d["html"]) for d in docs]
    pdf = [d["html"] for d in docs if _is_pdf(d["html"])]
    return {
        "docs": n,
        "pdf_share": round(len(pdf) / n, 4),
        "html_share": round(1 - len(pdf) / n, 4),
        "giant_share": round(sum(s >= GIANT_THRESHOLD for s in sizes) / n, 4),
        "encrypted_share": round(sum(b"/Encrypt" in b for b in pdf) / n, 4),
        "mean_blob_bytes": round(sum(sizes) / n, 1),
        "max_blob_bytes": max(sizes),
        "input_md5": hashlib.md5(
            b"".join(hashlib.md5(d["url"].encode() + d["html"]).digest()
                     for d in docs)
        ).hexdigest()[:12],
    }
