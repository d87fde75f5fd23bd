"""Output check: the program's rows against the serial engine's.

Each document reduces to a key over (url, md5(text), verdict, error codes).
The reference keys come from ``process_document`` run serially in this
process over the same bytes; the observed keys are read back from the
committed snapshot or sink.  A document is failed when its url is missing,
duplicated or unexpected, or when its key differs.  The order-independent
digest is the sum of the keys' md5 values modulo 2**128.
"""

from __future__ import annotations

import hashlib
import time
from dataclasses import dataclass

from caraspark.pdfengine import process_document


def _key(url: str, text_md5: str, valid: bool, strict: bool, codes) -> str:
    return f"{url}\t{text_md5}\t{int(valid)}{int(strict)}\t{','.join(codes)}"


def digest(keys) -> str:
    total = sum(int(hashlib.md5(k.encode()).hexdigest(), 16) for k in keys)
    return f"{total % (1 << 128):032x}"


class Reference:
    """Serial-engine results per distinct blob, with their untraced time."""

    def __init__(self):
        self.result: dict[bytes, tuple] = {}
        self.ms: dict[bytes, float] = {}

    def add(self, docs: list[dict], reps: int = 1) -> None:
        for d in docs:
            blob = d["html"]
            if blob in self.result:
                continue
            times = []
            for _ in range(reps):
                t0 = time.perf_counter()
                r = process_document(blob)
                times.append(time.perf_counter() - t0)
            self.ms[blob] = sorted(times)[len(times) // 2] * 1000.0
            self.result[blob] = (
                hashlib.md5(r.text or b"").hexdigest(),
                r.valid,
                r.strict,
                tuple(e.code for e in r.errors),
            )

    def keys(self, docs: list[dict]) -> dict[str, str]:
        return {d["url"]: _key(d["url"], *self.result[d["html"]]) for d in docs}


def observed_keys(df) -> list[str]:
    """Keys of every row of an extracted DataFrame (one small collect)."""
    from pyspark.sql import functions as F

    rows = df.select(
        "url",
        F.md5(F.coalesce(F.col("text"), F.lit(b""))).alias("m"),
        F.col("verdict.valid").alias("v"),
        F.col("verdict.strict").alias("s"),
        F.transform("errors", lambda e: e["code"]).alias("c"),
    ).collect()
    return [_key(r.url, r.m, r.v, r.s, r.c or ()) for r in rows]


@dataclass
class Outcome:
    attempted: int
    failed: int
    digest_ok: bool

    @property
    def ok(self) -> bool:
        return self.failed == 0 and self.digest_ok


def compare(expected: dict[str, str], got: list[str]) -> Outcome:
    seen: dict[str, int] = {}
    failed = 0
    for k in got:
        url = k.split("\t", 1)[0]
        seen[url] = seen.get(url, 0) + 1
        if seen[url] > 1 or expected.get(url) != k:
            failed += 1  # duplicate, unexpected url, or different content
    failed += sum(1 for url in expected if url not in seen)  # missing
    return Outcome(
        attempted=len(expected),
        failed=failed,
        digest_ok=digest(expected.values()) == digest(got),
    )
