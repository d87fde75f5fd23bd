"""Per-document entry point: parse → validate → type-check → extract
(SURVEY.md C23 stats + C27 verdict/taxonomy; EP1 pipeline of §3.1).

``process_document(blob)`` is the unit of work the Arrow batch UDF maps over
``documents_raw.html``. It is total: any input bytes produce a result record,
never an exception. Verdict semantics:

  valid  — no error whose code is in FATAL_CODES (relaxed acceptance);
  strict — zero recorded VALIDATION errors (caradoc's strict grammar +
           full type check stance [LangSec16 §III–IV]). Extraction-phase
           ``extract.*`` warnings are excluded: caradoc validates in one
           command and extracts in another, and excluding them keeps the
           verdict identical between full and want_text=False runs.

Errors are sorted by (pos, code, path, msg) — deterministic output under any
partitioning (SURVEY.md §5.2-5 distribution invariance).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from caraspark.htmlengine import extract_html
from caraspark.pdfengine.document import Document, load_document
from caraspark.pdfengine.model import PdfError, Stream, canonical_json
from caraspark.pdfengine.textextract import extract_text_spans
from caraspark.pdfengine.typecheck import check_types

FATAL_CODES = frozenset(
    {
        "file.no_header",
        "file.overlap",
        "xref.no_startxref",
        "xref.bad_startxref",
        "xref.bad_table",
        "xref.bad_subsection",
        "xref.bad_entry",
        "xref.bad_offset",
        "xref.obj_mismatch",
        "xref.prev_cycle",
        "xref.bad_prev",
        "xref.not_a_stream",
        "xref.stream_bad_w",
        "xref.missing_trailer",
        "xref.bad_trailer",
        "obj.bad_header",
        "graph.cycle",
        "graph.dangling_ref",
        "graph.gen_mismatch",
        "type.mismatch",
        "type.missing_required",
        "type.conflict",
        "lex.int_overflow",
        "resource.depth_limit",
        "resource.time_limit",
        "resource.too_many_objects",
        "resource.decoded_too_large",
        "cos.eof_in_object",
        "objstm.missing_container",
        "objstm.bad_header",
        "html.decode_error",
    }
)


@dataclass(slots=True)
class ExtractResult:
    kind: str  # 'pdf' | 'html'
    text: bytes = b""
    # v3 SPANS: (start, end, label) octet offsets into ``text`` — one per
    # PDF page ("page:<i>", page-tree order) or kept HTML block
    # ("block:<i>"); [] when text is b""; None in want_text=False mode.
    spans: list | None = None
    # v4 OUTLINKS: href targets of <a> tags outside drop/boiler regions,
    # document order, first-occurrence deduped; [] for PDFs; None in
    # want_text=False mode (link harvest rides the text parse).
    outlinks: list | None = None
    # v5 TITLE: first <title> text (HTML) / trailer /Info /Title string
    # (PDF), whitespace-normalized; None if absent/empty or in stats mode.
    title: str | None = None
    # v6 HEADMETA: first canonical <link> href (HTML; PDFs have none) and
    # first <meta name=description> content / PDF /Info /Subject.
    canonical: str | None = None
    description: str | None = None
    # v7 HEADINGS: (block, level) per kept h1–h6 block (HTML; block is the
    # spans index) / (preorder pos, level+1) over the outline tree (PDF).
    headings: list | None = None
    # v8 OGMETA: first non-empty <meta property="og:{title,description,
    # image}"> content (HTML); PDFs have none. None when not requested.
    og_title: str | None = None
    og_description: str | None = None
    og_image: str | None = None
    # v9 ANCHORS: visible text of the first anchor element per outlink,
    # parallel to ``outlinks`` (HTML); [] for PDFs. None when not
    # requested / stats mode.
    anchors: list | None = None
    # v10 TABLES: (table, row, col, header, cell) per opened table cell
    # (HTML); [] for PDFs. None when not requested / stats mode.
    tables: list | None = None
    # v11 LISTS: (list, item, depth, ordered, item_text) per opened <li>
    # (HTML); [] for PDFs. None when not requested / stats mode.
    lists: list | None = None
    # v12 IMAGES: (src, alt) per <img> element in document order (HTML);
    # [] for PDFs. None when not requested / stats mode.
    images: list | None = None
    # v13 JSONLD: raw stripped ld+json script payloads in document order
    # (HTML); [] for PDFs. None when not requested / stats mode.
    jsonld: list | None = None
    # v14 ROBOTSMETA: first <meta name=robots> content, lowercased +
    # normalized (HTML); None for PDFs / absent / stats mode.
    robots_meta: str | None = None
    # v15 ALTERNATES: (hreflang, type, href) per rel=alternate link
    # element in document order (HTML); [] for PDFs. None when not
    # requested / stats mode.
    alternates: list | None = None
    # v16 REFRESH: first <meta http-equiv=refresh> content, lowercased +
    # normalized — the soft-redirect signal (HTML); None for PDFs /
    # absent / stats mode.
    refresh_meta: str | None = None
    # v17 BASEHREF: first non-empty <base href>, trimmed, case-preserved
    # — the page's URL-resolution base (HTML); None for PDFs / absent /
    # stats mode.
    base_href: str | None = None
    # v18 FORMS: (method, action) per <form> element outside drop/boiler
    # contexts (HTML); [] for PDFs. None when not requested / stats mode.
    forms: list | None = None
    # v19 PAGINATION: first non-empty rel=next / rel=prev(|previous)
    # link hrefs, trimmed, case-preserved — the paginated-series walk
    # order (HTML); None for PDFs / absent / stats mode.
    next_href: str | None = None
    prev_href: str | None = None
    # v20 MICRODATA: (item, itemtype, prop, value) per itemprop token
    # (HTML); [] for PDFs. None when not requested / stats mode.
    microdata: list | None = None
    # v21 RDFA: (item, vocab, typeof, prop, value) per property token
    # (HTML); [] for PDFs. None when not requested / stats mode.
    rdfa: list | None = None
    valid: bool = True
    strict: bool = True
    errors: list = field(default_factory=list)  # PdfError, sorted
    version: str | None = None
    n_objects: int = 0
    n_updates: int = 0
    n_streams: int = 0
    n_holes: int = 0
    bytes_in: int = 0
    bytes_decoded: int = 0
    parse_ms: float = 0.0
    encrypted: bool = False
    hybrid: bool = False
    linearized: bool = False
    type_assignments: dict = field(default_factory=dict)  # "num.gen" → type
    objects_json: dict = field(default_factory=dict)  # "num.gen" → canonical

    def errors_as_rows(self) -> list[dict]:
        return [
            {
                "code": e.code,
                "pos": e.pos,
                "obj_num": e.obj[0] if e.obj else None,
                "obj_gen": e.obj[1] if e.obj else None,
                "path": e.path,
                "msg": e.msg,
            }
            for e in self.errors
        ]

    def spans_as_rows(self) -> list[dict] | None:
        if self.spans is None:
            return None
        return [
            {"start": s, "end": e, "label": lbl} for s, e, lbl in self.spans
        ]


def _pdf_info_text(doc, key: str) -> str | None:
    """v5 TITLE / v6 description, PDF side: trailer /Info (deref) → the
    requested text-string entry → Annex-D decode → whitespace-normalize;
    None when absent/not-a-string."""
    from caraspark.pdfengine.model import Ref
    from caraspark.pdfengine.textextract import decode_pdf_string

    info = doc.trailer.get("Info")
    if isinstance(info, Ref):
        info = doc.objects.get((info.num, info.gen))
    if not isinstance(info, dict):
        return None
    t = info.get(key)
    if isinstance(t, Ref):
        t = doc.objects.get((t.num, t.gen))
    if not isinstance(t, (bytes, bytearray)):
        return None
    return " ".join(decode_pdf_string(bytes(t)).split()) or None


def is_pdf(blob: bytes) -> bool:
    """Magic-byte routing per FIXTURES.md §2 (header may follow junk)."""
    return b"%PDF-" in blob[:1024]


DEFAULT_TIME_BUDGET_S = 60.0  # straggler guard; parse degrades, never hangs

# The extraction surfaces a consumer can request (SPEC v1–v21), each mapped
# to the ExtractResult fields it fills; those field names are also the
# EXTRACTED columns. "headmeta" is accepted as an alias for {title,
# canonical, description}.
SURFACE_FIELDS: dict[str, tuple[str, ...]] = {
    "text": ("text",),
    "spans": ("spans",),
    "outlinks": ("outlinks",),
    "title": ("title",),
    "canonical": ("canonical",),
    "description": ("description",),
    "headings": ("headings",),
    "ogmeta": ("og_title", "og_description", "og_image"),
    "anchors": ("anchors",),
    "tables": ("tables",),
    "lists": ("lists",),
    "images": ("images",),
    "jsonld": ("jsonld",),
    "robots": ("robots_meta",),
    "alternates": ("alternates",),
    "refresh": ("refresh_meta",),
    "base": ("base_href",),
    "forms": ("forms",),
    "pagination": ("next_href", "prev_href"),
    "microdata": ("microdata",),
    "rdfa": ("rdfa",),
}
SURFACES = frozenset(SURFACE_FIELDS)

# HTML-only list surfaces: a PDF has none, so each is [] when requested.
_HTML_ONLY_LISTS = (
    "outlinks", "anchors", "tables", "lists", "images", "jsonld",
    "alternates", "forms", "microdata", "rdfa",
)

# ``extract_html``'s result tuple, as ExtractResult field names; "og" is
# the (og_title, og_description, og_image) triple.
_HTML_RESULT = (
    "text", "spans", "outlinks", "title", "canonical", "description",
    "headings", "og", "anchors", "tables", "lists", "images", "jsonld",
    "robots_meta", "alternates", "refresh_meta", "base_href", "forms",
    "next_href", "prev_href", "microdata", "rdfa",
)


def normalize_want(
    want=None, want_text: bool = True
) -> frozenset:
    """Resolve the (want, want_text) pair to the surface set to compute.

    ``want=None`` keeps the legacy switch: want_text=True → all surfaces,
    want_text=False → none (stats-only). An explicit ``want`` wins and
    may use the "headmeta" alias. Unknown names raise — a typo'd surface
    silently computing nothing would look like a data bug downstream."""
    if want is None:
        return SURFACES if want_text else frozenset()
    w = set(want)
    if "headmeta" in w:
        w.discard("headmeta")
        w |= {"title", "canonical", "description"}
    unknown = w - SURFACES
    if unknown:
        raise ValueError(
            f"unknown extraction surfaces {sorted(unknown)}; "
            f"valid: {sorted(SURFACES)} + 'headmeta'"
        )
    return frozenset(w)


def process_document(
    blob: bytes,
    strict: bool = True,
    want_objects: bool = False,
    max_objects: int = 100_000,
    time_budget_s: float = DEFAULT_TIME_BUDGET_S,
    want_text: bool = True,
    want=None,
) -> ExtractResult:
    """``want`` (an iterable of SURFACES names, or the legacy boolean
    ``want_text``) is the projection-pushdown control: parsing, xref
    resolution, decryption and type checking ALWAYS run, but each content
    surface is assembled only when requested, and unrequested surfaces are
    None in the result — so a stats-only or title-only consumer never pays
    for text assembly, the outline walk, or span materialization.
    Caveat of text-less modes, by design: content-stream-level error codes
    (``content.*`` and text-side ``filter.*``) are then not collected, so
    the verdict covers document STRUCTURE only (the strict verdict already
    excludes ``extract.*`` codes, making it want-invariant)."""
    wanted = normalize_want(want, want_text)
    t0 = time.perf_counter()
    if is_pdf(blob):
        res = _process_pdf(
            blob, strict, want_objects, max_objects, time_budget_s, wanted
        )
    else:
        res = _process_html(blob, wanted)
    res.bytes_in = len(blob)
    res.parse_ms = (time.perf_counter() - t0) * 1000.0
    res.errors.sort(key=lambda e: e.sort_key())
    res.valid = not any(e.code in FATAL_CODES for e in res.errors)
    # strict is a VALIDATION verdict (caradoc validates structure/types;
    # text extraction is a separate command whose warnings don't change
    # validation). Excluding extraction-phase ``extract.*`` codes also makes
    # the verdict invariant under want_text on/off, so stats-mode and full
    # runs can never disagree on it.
    res.strict = all(e.code.startswith("extract.") for e in res.errors)
    return res


def _process_pdf(
    blob, strict, want_objects, max_objects, time_budget_s=None,
    want=SURFACES,
) -> ExtractResult:
    doc: Document = load_document(
        blob,
        strict=strict,
        max_objects=max_objects,
        time_budget_s=time_budget_s,
    )
    errors = list(doc.errors)

    tres = check_types(doc, strict=strict)
    errors.extend(tres.errors)

    # text and spans share one content-stream assembly pass; run it when
    # either is requested, then drop the unrequested half.
    text = spans = None
    if want & {"text", "spans"}:
        t, sp = extract_text_spans(doc, errors)
        text = t if "text" in want else None
        spans = sp if "spans" in want else None
    title = _pdf_info_text(doc, "Title") if "title" in want else None
    description = (
        _pdf_info_text(doc, "Subject") if "description" in want else None
    )
    headings = None
    if "headings" in want:
        from caraspark.pdfengine.document import extract_outline

        headings = [
            (o["pos"], o["level"] + 1) for o in extract_outline(doc)
        ]

    n_streams = 0
    bytes_decoded = 0
    for obj in doc.objects.values():
        if isinstance(obj, Stream):
            n_streams += 1
            if obj.decoded is not None:
                bytes_decoded += len(obj.decoded)

    res = ExtractResult(
        kind="pdf",
        text=text,
        spans=spans,
        title=title,
        description=description,
        headings=headings,
        errors=errors,
        version=doc.version,
        n_objects=len(doc.objects),
        n_updates=doc.n_updates,
        n_streams=n_streams,
        n_holes=doc.n_holes,
        bytes_decoded=bytes_decoded,
        encrypted=doc.encrypted,
        hybrid=doc.hybrid,
        linearized=doc.linearized,
        type_assignments={
            f"{k[0]}.{k[1]}": v for k, v in sorted(tres.assignments.items())
        },
    )
    for f in want.intersection(_HTML_ONLY_LISTS):
        setattr(res, f, [])
    if want_objects:
        res.objects_json = {
            f"{k[0]}.{k[1]}": canonical_json(
                o.d if isinstance(o, Stream) else o
            )
            for k, o in sorted(doc.objects.items())
        }
    return res


def _process_html(blob, want=SURFACES) -> ExtractResult:
    res = ExtractResult(kind="html", text=None)
    if want:
        # HTML extraction is one single-pass parse that produces all the
        # surfaces together (the pass itself is the cost; the per-surface
        # collection is incidental), so any requested surface runs the full
        # parse and only the requested fields are kept — the saving is in
        # what crosses the Arrow boundary, not the parse.
        out = dict(zip(_HTML_RESULT, extract_html(blob)))
        out["og_title"], out["og_description"], out["og_image"] = out["og"]
        has_content = bool(out["text"])
        for surface in want:
            for f in SURFACE_FIELDS[surface]:
                setattr(res, f, out[f])
    else:
        # Stats mode skips text materialization but must agree with the full
        # run on the error taxonomy: early-exit emptiness probe, no content.
        from caraspark.htmlengine import html_has_content

        has_content = html_has_content(blob)
    if not has_content:
        res.errors.append(PdfError("html.no_content", pos=0))
    return res
