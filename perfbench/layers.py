"""Spans around the public entry points of each layer, recorded from outside.

``Tracer.patched`` swaps a layer's function, at every module that looks it
up, for a wrapper that records a span (name, parent, start, duration) in
memory and charges the call's *self* time (its duration minus its child
spans) to the layer.  The originals are restored on exit.  Nothing in the
program is edited: the wrappers sit on the names the callers resolve.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import Counter, defaultdict

import pyarrow as pa

from caraspark.pdfengine import api, crypto, document, xref

# (module, attribute, layer): the engine layers below process_document.
# A function imported into several modules is patched in each of them.
ENGINE_LAYERS = [
    (api, "load_document", "pdfengine.document"),
    (document, "walk_xref_chain", "pdfengine.xref"),
    (document, "parse_indirect_object", "pdfengine.parser"),
    (xref, "parse_indirect_object", "pdfengine.parser"),
    (crypto, "decrypt_document", "pdfengine.crypto"),  # imported at call time
    (document, "decode_stream", "pdfengine.filters"),
    (xref, "decode_stream", "pdfengine.filters"),
    (api, "check_types", "pdfengine.typecheck"),
    (api, "extract_text_spans", "pdfengine.textextract"),
    (api, "extract_html", "htmlengine"),
]


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: Counter = Counter()
        self.out_bytes: Counter = Counter()
        self.spans: list[tuple] = []  # (id, parent, trace, name, start, dur)
        self.trace_id = 0
        self._last_id = 0
        self._stack: list[list] = []  # [span id, child seconds]

    def reset_totals(self) -> None:
        self.self_s.clear()
        self.calls.clear()
        self.out_bytes.clear()

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            self._last_id += 1
            sid = self._last_id
            parent = self._stack[-1][0] if self._stack else 0
            self._stack.append([sid, 0.0])
            t0 = self.clock()
            try:
                out = fn(*args, **kwargs)
            finally:
                dur = self.clock() - t0
                _, child = self._stack.pop()
                self.self_s[name] += dur - child
                if self._stack:
                    self._stack[-1][1] += dur
                self.calls[name] += 1
                self.spans.append((sid, parent, self.trace_id, name, t0, dur))
            if isinstance(out, (bytes, bytearray)):
                self.out_bytes[name] += len(out)
            return out

        return traced

    @contextlib.contextmanager
    def patched(self, targets):
        saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
        try:
            for (obj, attr, name), (_, _, orig) in zip(targets, saved):
                setattr(obj, attr, self.wrap(name, orig))
            yield self
        finally:
            for obj, attr, orig in saved:
                setattr(obj, attr, orig)

    def intervals(self, name: str) -> list[tuple[float, float]]:
        """(start, end) of every span of one layer, in start order."""
        return sorted((t0, t0 + dur) for _, _, _, n, t0, dur in self.spans if n == name)

    def write(self, path: str, extra: list[dict] = ()) -> None:
        """Write the spans kept in memory as JSON lines."""
        with open(path, "w") as f:
            for sid, parent, trace, name, t0, dur in self.spans:
                f.write(json.dumps({"id": sid, "parent": parent, "trace": trace,
                                    "name": name, "start": t0, "dur": dur}) + "\n")
            for rec in extra:
                f.write(json.dumps(rec) + "\n")


def _weighted_quantile(pairs: list[tuple[float, int]], q: float) -> float:
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    acc = 0
    for v, w in pairs:
        acc += w
        if acc >= q * total:
            return v
    return pairs[-1][0]


def engine_ledger(uniq: dict[bytes, int], serial_ms: dict[bytes, float],
                  tracer: Tracer) -> dict[str, float]:
    """Serial engine figures over the workload's documents.

    ``uniq`` maps each distinct blob to the number of input documents that
    carry it (the engine is a pure function of the bytes), ``serial_ms`` is
    its untraced ``process_document`` time.  Every blob is then processed
    once more under the layer wrappers and its self times are weighted by
    its document count."""
    n_docs = sum(uniq.values())
    pdf_docs = sum(w for b, w in uniq.items() if api.is_pdf(b))
    html_docs = n_docs - pdf_docs
    total: dict[str, float] = defaultdict(float)
    counts: Counter = Counter()
    with tracer.patched(ENGINE_LAYERS):
        wrapped = tracer.wrap("pdfengine.api", api.process_document)
        for i, (blob, w) in enumerate(uniq.items()):
            tracer.trace_id = i + 1
            tracer.reset_totals()
            wrapped(blob)
            for k, v in tracer.self_s.items():
                total[k] += v * w
            for k, v in tracer.calls.items():
                counts[k] += v * w
            counts["decoded_bytes"] += tracer.out_bytes["pdfengine.filters"] * w
    per_pdf = 1000.0 / pdf_docs if pdf_docs else 0.0
    pairs = [(serial_ms[b], w) for b, w in uniq.items()]
    wall_s = sum(ms * w for ms, w in pairs) / 1000.0
    return {
        "pdfengine.api.docs_per_s": n_docs / wall_s,
        "pdfengine.api.doc_ms_p50": _weighted_quantile(pairs, 0.50),
        "pdfengine.api.doc_ms_p99": _weighted_quantile(pairs, 0.99),
        "pdfengine.parser.ms_per_pdf": total["pdfengine.parser"] * per_pdf,
        "pdfengine.parser.objects_per_pdf":
            counts["pdfengine.parser"] / pdf_docs if pdf_docs else 0.0,
        "pdfengine.xref.ms_per_pdf": total["pdfengine.xref"] * per_pdf,
        "pdfengine.crypto.ms_per_pdf": total["pdfengine.crypto"] * per_pdf,
        "pdfengine.filters.ms_per_pdf": total["pdfengine.filters"] * per_pdf,
        "pdfengine.filters.decoded_bytes_per_pdf":
            counts["decoded_bytes"] / pdf_docs if pdf_docs else 0.0,
        "pdfengine.document.self_ms_per_pdf":
            total["pdfengine.document"] * per_pdf,
        "pdfengine.typecheck.ms_per_pdf": total["pdfengine.typecheck"] * per_pdf,
        "pdfengine.textextract.ms_per_pdf":
            total["pdfengine.textextract"] * per_pdf,
        "htmlengine.ms_per_html":
            total["htmlengine"] * 1000.0 / html_docs if html_docs else 0.0,
    }


def arrow_ledger(docs: list[dict], batch_rows: int = 1024) -> dict[str, float]:
    """The Arrow boundary inside the UDF: ``_extract_batches`` run in this
    process over the documents, minus the ``process_document`` calls it
    makes.  What is left is input column conversion and output assembly."""
    import caraspark.pdfengine as pdfengine
    from caraspark.extract import _extract_batches

    tracer = Tracer()
    batches = [
        pa.RecordBatch.from_pylist(
            [{k: d[k] for k in ("url", "warc_ts", "html")}
             for d in docs[i:i + batch_rows]],
            schema=pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                              ("html", pa.binary())]),
        )
        for i in range(0, len(docs), batch_rows)
    ]
    out_bytes = 0
    with tracer.patched([(pdfengine, "process_document", "pdfengine.api")]):
        t0 = time.perf_counter()
        for out in _extract_batches(iter(batches)):
            out_bytes += out.nbytes
        wall = time.perf_counter() - t0
    n = len(docs)
    return {
        "extract.arrow_ms_per_doc":
            (wall - tracer.self_s["pdfengine.api"]) * 1000.0 / n,
        "extract.arrow_out_bytes_per_doc": out_bytes / n,
    }
