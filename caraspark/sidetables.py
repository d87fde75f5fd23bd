"""Exploded side tables over the synthetic corpus: objects, edges, types,
cleanup (SURVEY.md C20–C25 as corpus-scale queries).

Each is one narrow mapInArrow pass producing normalized rows, then plain
relational ops on top — the corpus versions of caradoc's single-file
commands: ``findref`` becomes a filter on the edges table, dangling-ref
detection becomes a LEFT ANTI join, ``types`` becomes a (url, obj, type)
table, ``cleanup`` becomes md5-of-canonical-bytes + a fixpoint flag.

Each qkey hash-verifies against a closed-form DuckDB oracle over the
frozen per-recipe corpus reconstruction (caraspark/oracle_freeze.py):
PDF parsing itself isn't SQL-expressible, but the synth corpus is
deterministic per recipe, so the expected edge/object/type/cleanup rows
are pinned in git and any drift in the distributed pipeline breaks the
value hash. Byte-level anchors remain the pytest golden suite.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from caraspark.corpus import corpus_rows_for_sf, synth_df
from caraspark.oracle_freeze import (
    actions_cte,
    annot_cte,
    contentop_cte,
    streamstat_cte,
    attach_cte,
    corpus_cte,
    formfield_cte,
    js_cte,
    fonts_cte,
    repair_cte,
    scav_cte,
    sigs_cte,
    xmp_cte,
    outline_cte,
    pages_cte,
    revision_cte,
    extras_cte,
    findref_cte,
    objkind_cte,
    types_cte,
    variant_cte,
)
from caraspark.relational import Q

REGISTRY: dict[str, Q] = {}


def _q(name: str, sql):
    def deco(fn):
        if name in REGISTRY:  # a silent overwrite hides a qkey
            raise KeyError(f"duplicate qkey {name!r} in this module")
        REGISTRY[name] = Q(fn, sql)
        return fn

    return deco


_EDGES_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("src_num", pa.int32()),
        ("src_gen", pa.int32()),
        ("dst_num", pa.int32()),
        ("dst_gen", pa.int32()),
        ("path", pa.string()),
        ("dangling", pa.bool_()),
    ]
)

_OBJECTS_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("num", pa.int32()),
        ("gen", pa.int32()),
        ("kind", pa.string()),
        ("type_name", pa.string()),
        ("body_json", pa.string()),
        ("n_refs", pa.int32()),
    ]
)

_ATTACH_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("att_name", pa.string()),
        ("att_md5", pa.string()),
        ("att_size", pa.int64()),
    ]
)

_CLEANUP_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("clean_md5", pa.string()),
        ("clean_bytes", pa.int64()),
        ("fixpoint", pa.bool_()),
    ]
)


def _edges_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    from caraspark.pdfengine.api import is_pdf
    from caraspark.pdfengine.document import load_document

    cols = {f.name: [] for f in _EDGES_ARROW}
    for batch in it:
        urls = batch.column("url").to_pylist()
        blobs = batch.column("html").to_pylist()
        for url, blob in zip(urls, blobs):
            if blob is None or not is_pdf(blob):
                continue
            doc = load_document(blob)
            known = set(doc.objects)
            for src, dst, path in doc.edges:
                cols["url"].append(url)
                cols["src_num"].append(src[0] if src else None)
                cols["src_gen"].append(src[1] if src else None)
                cols["dst_num"].append(dst[0])
                cols["dst_gen"].append(dst[1])
                cols["path"].append(path)
                cols["dangling"].append(dst not in known)
        if cols["url"]:
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], f.type) for f in _EDGES_ARROW],
                schema=_EDGES_ARROW,
            )
            for v in cols.values():
                v.clear()


def _objects_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    from caraspark.pdfengine.api import is_pdf, process_document
    from caraspark.pdfengine.model import Stream, canonical_json

    cols = {f.name: [] for f in _OBJECTS_ARROW}
    for batch in it:
        urls = batch.column("url").to_pylist()
        blobs = batch.column("html").to_pylist()
        for url, blob in zip(urls, blobs):
            if blob is None or not is_pdf(blob):
                continue
            from caraspark.pdfengine.document import load_document
            from caraspark.pdfengine.model import Ref
            from caraspark.pdfengine.typecheck import check_types

            doc = load_document(blob)
            tres = check_types(doc)
            refcounts: dict = {}
            for _src, dst, _p in doc.edges:
                refcounts[dst] = refcounts.get(dst, 0) + 1
            for key in sorted(doc.objects):
                o = doc.objects[key]
                body = o.d if isinstance(o, Stream) else o
                kind = (
                    "stream"
                    if isinstance(o, Stream)
                    else type(body).__name__.lower()
                )
                cols["url"].append(url)
                cols["num"].append(key[0])
                cols["gen"].append(key[1])
                cols["kind"].append(kind)
                cols["type_name"].append(tres.assignments.get(key))
                cols["body_json"].append(canonical_json(body))
                cols["n_refs"].append(refcounts.get(key, 0))
        if cols["url"]:
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], f.type) for f in _OBJECTS_ARROW],
                schema=_OBJECTS_ARROW,
            )
            for v in cols.values():
                v.clear()


def _prune_skip(blob: bytes, *tokens: bytes) -> bool:
    """Sound byte-level prune before a full parse: skip a document only
    when NONE of the feature's marker names appears literally, there are
    no #-escaped names anywhere (an escaped marker carries '#'), and no
    /ObjStm object streams (a name INSIDE a compressed object stream is
    invisible in the raw bytes, but the ObjStm's own stream dict can
    never itself be compressed [PDF17 §7.5.7], so its /Type /ObjStm
    marker always is visible; encryption never touches names). At crawl
    scale almost every PDF prunes, skipping xref+object loading."""
    if b"#" in blob or b"/ObjStm" in blob:
        return False
    return not any(t in blob for t in tokens)


def _attach_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    import hashlib

    from caraspark.pdfengine.api import is_pdf
    from caraspark.pdfengine.document import extract_attachments, load_document

    cols = {f.name: [] for f in _ATTACH_ARROW}
    for batch in it:
        urls = batch.column("url").to_pylist()
        blobs = batch.column("html").to_pylist()
        for url, blob in zip(urls, blobs):
            if blob is None or not is_pdf(blob):
                continue
            if _prune_skip(blob, b"/EmbeddedFiles"):
                continue
            for a in extract_attachments(load_document(blob)):
                cols["url"].append(url)
                cols["att_name"].append(a["name"])
                cols["att_md5"].append(
                    None
                    if a["payload"] is None
                    else hashlib.md5(a["payload"]).hexdigest()
                )
                cols["att_size"].append(a["size"])
        if cols["url"]:
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], f.type) for f in _ATTACH_ARROW],
                schema=_ATTACH_ARROW,
            )
            for v in cols.values():
                v.clear()


def _cleanup_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    import hashlib

    from caraspark.pdfengine.api import is_pdf
    from caraspark.pdfengine.cleanup import cleanup
    from caraspark.pdfengine.document import load_document

    cols = {f.name: [] for f in _CLEANUP_ARROW}
    for batch in it:
        urls = batch.column("url").to_pylist()
        blobs = batch.column("html").to_pylist()
        for url, blob in zip(urls, blobs):
            if blob is None or not is_pdf(blob):
                continue
            c1 = cleanup(load_document(blob))
            c2 = cleanup(load_document(c1))
            cols["url"].append(url)
            cols["clean_md5"].append(hashlib.md5(c1).hexdigest())
            cols["clean_bytes"].append(len(c1))
            cols["fixpoint"].append(c1 == c2)
        if cols["url"]:
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], f.type) for f in _CLEANUP_ARROW],
                schema=_CLEANUP_ARROW,
            )
            for v in cols.values():
                v.clear()


_SIDE_CACHE: dict = {}


def _corpus(spark, sf):
    return synth_df(spark, corpus_rows_for_sf(sf))


def _cached(spark, sf, which: str):
    """Session-scoped cache (qcache) of the exploded side tables
    (edges/objects): several qkeys consume each, and the engine pass
    dominates their cost."""
    from caraspark.qcache import get_or_persist

    batches, arrow = {
        "edges": (_edges_batches, _EDGES_ARROW),
        "objects": (_objects_batches, _OBJECTS_ARROW),
    }[which]
    return get_or_persist(
        _SIDE_CACHE,
        spark,
        (sf, which),
        lambda: _corpus(spark, sf).mapInArrow(
            batches, from_arrow_schema(arrow)
        ),
    )


@_q(
    "pdf_edges",
    f"""WITH {corpus_cte()},
{extras_cte()}
SELECT d.url, CAST(x.n_edges AS BIGINT) AS n_edges,
       CAST(x.n_dangling AS BIGINT) AS n_dangling,
       CAST(x.n_trailer_roots AS BIGINT) AS n_trailer_roots
FROM docs d JOIN px x ON x.rid = d.rid WHERE x.n_edges > 0""",
)
def pdf_edges(spark, sf):
    # C20: the reference graph as a first-class table
    e = _cached(spark, sf, "edges")
    return e.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(F.when(F.col("dangling"), 1).otherwise(0)).alias("n_dangling"),
        F.sum(F.when(F.col("src_num").isNull(), 1).otherwise(0)).alias(
            "n_trailer_roots"
        ),
    )


@_q(
    "pdf_dangling",
    f"""WITH {corpus_cte()},
{extras_cte()}
SELECT d.url, CAST(x.n_dangling AS BIGINT) AS n_dangling,
       x.dangling_paths AS paths
FROM docs d JOIN px x ON x.rid = d.rid WHERE x.n_dangling > 0""",
)
def pdf_dangling(spark, sf):
    # C21 at corpus scale as a real LEFT ANTI join: edge targets with no
    # matching row in the objects table
    edges = _cached(spark, sf, "edges")
    objects = _cached(spark, sf, "objects")
    tgt = edges.select(
        "url", F.col("dst_num").alias("num"), F.col("dst_gen").alias("gen"), "path"
    )
    missing = tgt.join(
        objects.select("url", "num", "gen"), ["url", "num", "gen"], "left_anti"
    )
    return missing.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_dangling"),
        F.concat_ws(",", F.sort_array(F.collect_list("path"))).alias("paths"),
    )


@_q(
    "pdf_findref",
    f"""WITH {corpus_cte()},
{findref_cte()}
SELECT d.url, f.src_num, f.src_gen, f.path
FROM docs d JOIN fr f ON f.rid = d.rid""",
)
def pdf_findref(spark, sf):
    # C25: reverse reference lookup — who references object 2 0?
    edges = _cached(spark, sf, "edges")
    return (
        edges.filter((F.col("dst_num") == 2) & (F.col("dst_gen") == 0))
        .select("url", "src_num", "src_gen", "path")
        .orderBy("url", "src_num", "path")
    )


@_q(
    "pdf_types",
    f"""WITH {corpus_cte()},
{types_cte()}
SELECT t.type_name, CAST(sum(t.cnt) AS BIGINT) AS n_objects,
       CAST(count(*) AS BIGINT) AS n_docs
FROM docs d JOIN ty t ON t.rid = d.rid GROUP BY t.type_name""",
)
def pdf_types(spark, sf):
    # C22: per-object inferred types, aggregated per type name
    objects = _cached(spark, sf, "objects")
    return (
        objects.filter(F.col("type_name").isNotNull())
        .groupBy("type_name")
        .agg(
            F.count(F.lit(1)).alias("n_objects"),
            F.countDistinct("url").alias("n_docs"),
        )
    )


@_q(
    "pdf_objects",
    f"""WITH {corpus_cte()},
{objkind_cte()}
SELECT o.okind AS kind, CAST(sum(o.n_obj) AS BIGINT) AS n,
       CAST(sum(o.refs) AS BIGINT) AS total_refs,
       CAST(max(o.maxb) AS INT) AS max_body_json
FROM docs d JOIN ok o ON o.rid = d.rid GROUP BY o.okind""",
)
def pdf_objects(spark, sf):
    # C6/C17: the exploded canonical objects table
    objects = _cached(spark, sf, "objects")
    return objects.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_refs").alias("total_refs"),
        F.max(F.length("body_json")).alias("max_body_json"),
    )


@_q(
    "pdf_objects_variant",
    f"""WITH {corpus_cte()},
{variant_cte()}
SELECT v.obj_type, CAST(sum(v.n_obj) AS BIGINT) AS n,
       CAST(sum(v.cnt_sum) AS BIGINT) AS sum_count
FROM docs d JOIN va v ON v.rid = d.rid GROUP BY v.obj_type""",
)
def pdf_objects_variant(spark, sf):
    # Spark 4 VARIANT path (SURVEY.md §1.1): canonical-JSON bodies parse
    # into variant once, then typed drilling happens in the JVM with
    # variant_get — no re-parse per predicate, shredded binary encoding.
    # '$d'/'$n' are our canonical-form markers, hence the escaped dollars.
    objects = _cached(spark, sf, "objects")
    v = objects.select(
        "url",
        "num",
        F.parse_json("body_json").alias("v"),
    )
    typed = v.select(
        "url",
        "num",
        F.expr(r"try_variant_get(v, '$.\$d.Type.\$n', 'string')").alias(
            "obj_type"
        ),
        F.expr(r"try_variant_get(v, '$.\$d.Count', 'long')").alias("count"),
    )
    return (
        typed.filter(F.col("obj_type").isNotNull())
        .groupBy("obj_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce(F.col("count"), F.lit(0))).alias("sum_count"),
        )
    )


@_q(
    "pdf_cleanup",
    f"""WITH {corpus_cte()},
{extras_cte()}
SELECT d.url, x.clean_md5, CAST(x.clean_bytes AS BIGINT) AS clean_bytes,
       x.fixpoint
FROM docs d JOIN px x ON x.rid = d.rid""",
)
def pdf_cleanup(spark, sf):
    # C24: canonical re-serialization; fixpoint must hold corpus-wide
    c = _corpus(spark, sf).mapInArrow(
        _cleanup_batches, from_arrow_schema(_CLEANUP_ARROW)
    )
    return c.select("url", "clean_md5", "clean_bytes", "fixpoint")


# ---------------------------------------------------------------------------
# U6: Python UDTF — one document row → many object rows, lateral-joined
# ---------------------------------------------------------------------------


def _make_objects_udtf():
    from pyspark.sql.functions import udtf

    @udtf(returnType="num int, gen int, kind string, n_refs int")
    class ExplodeObjects:
        """UDTF alternative to the mapInArrow objects pass (SURVEY.md U6):
        LATERAL-join one blob into its object rows."""

        def eval(self, url: str, blob):
            from caraspark.pdfengine.api import is_pdf
            from caraspark.pdfengine.document import load_document
            from caraspark.pdfengine.model import Stream

            b = bytes(blob) if blob is not None else b""
            if not is_pdf(b):
                return
            doc = load_document(b)
            refcounts: dict = {}
            for _src, dst, _p in doc.edges:
                refcounts[dst] = refcounts.get(dst, 0) + 1
            for key in sorted(doc.objects):
                o = doc.objects[key]
                body = o.d if isinstance(o, Stream) else o
                kind = (
                    "stream" if isinstance(o, Stream) else type(body).__name__.lower()
                )
                yield key[0], key[1], kind, refcounts.get(key, 0)

    return ExplodeObjects


@_q(
    "udtf_objects",
    f"""WITH {corpus_cte()},
{objkind_cte()}
SELECT o.okind AS kind, CAST(sum(o.n_obj) AS BIGINT) AS n,
       CAST(sum(o.refs) AS BIGINT) AS total_refs
FROM docs d JOIN ok o ON o.rid = d.rid GROUP BY o.okind""",
)
def udtf_objects(spark, sf):
    # same answer shape as pdf_objects but via a registered UDTF + LATERAL
    spark.udtf.register("explode_objects", _make_objects_udtf())
    _corpus(spark, sf).createOrReplaceTempView("corpus_raw")
    return spark.sql(
        """SELECT t.kind, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(t.n_refs) AS BIGINT) AS total_refs
           FROM corpus_raw c,
                LATERAL explode_objects(c.url, c.html) t
           GROUP BY t.kind"""
    )


@_q(
    "pdf_attachments",
    f"""WITH {corpus_cte()},
{attach_cte()}
SELECT d.url, a.att_name, a.att_md5, CAST(a.att_size AS BIGINT) AS att_size
FROM docs d JOIN att a ON a.rid = d.rid""",
)
def pdf_attachments(spark, sf):
    """Embedded-file attachments across the corpus (PDF17 SS7.11): every
    /Names /EmbeddedFiles tree entry with the md5 + size of its DECODED
    /EF stream — pins the name-tree walk, filespec deref, and the filter
    chain end-to-end against the frozen per-recipe rows. Narrow Arrow
    stage like every side table; payload bytes never leave the executor
    (only digests are emitted)."""
    raw = _corpus(spark, sf)
    return raw.mapInArrow(_attach_batches, from_arrow_schema(_ATTACH_ARROW))


_OUTLINE_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("pos", pa.int32()),
        ("level", pa.int32()),
        ("title", pa.string()),
    ]
)


def _outline_batches(it):
    from caraspark.pdfengine.api import is_pdf
    from caraspark.pdfengine.document import extract_outline, load_document

    cols = {f.name: [] for f in _OUTLINE_ARROW}
    for batch in it:
        urls = batch.column("url").to_pylist()
        blobs = batch.column("html").to_pylist()
        for url, blob in zip(urls, blobs):
            if blob is None or not is_pdf(blob):
                continue
            if _prune_skip(blob, b"/Outlines"):
                continue
            for o in extract_outline(load_document(blob)):
                cols["url"].append(url)
                cols["pos"].append(o["pos"])
                cols["level"].append(o["level"])
                cols["title"].append(o["title"])
        if cols["url"]:
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], f.type) for f in _OUTLINE_ARROW],
                schema=_OUTLINE_ARROW,
            )
            for v in cols.values():
                v.clear()


@_q(
    "pdf_outline",
    f"""WITH {corpus_cte()},
{outline_cte()}
SELECT d.url, CAST(o.pos AS INT) AS pos, CAST(o.level AS INT) AS level,
       o.title
FROM docs d JOIN ol o ON o.rid = d.rid""",
)
def pdf_outline(spark, sf):
    """Document outlines (bookmarks) across the corpus [PDF17 SS12.3.3]:
    preorder position, nesting level, and Annex-D-decoded title of every
    reachable outline item — pins the First/Next chain walk and text-
    string decode against the frozen per-recipe rows. Narrow Arrow stage,
    no shuffle."""
    raw = _corpus(spark, sf)
    return raw.mapInArrow(_outline_batches, from_arrow_schema(_OUTLINE_ARROW))


_FORMFIELD_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("pos", pa.int32()),
        ("fname", pa.string()),
        ("ft", pa.string()),
        ("fvalue", pa.string()),
    ]
)


def _formfield_batches(it):
    from caraspark.pdfengine.api import is_pdf
    from caraspark.pdfengine.document import (
        extract_form_fields,
        load_document,
    )

    cols = {f.name: [] for f in _FORMFIELD_ARROW}
    for batch in it:
        urls = batch.column("url").to_pylist()
        blobs = batch.column("html").to_pylist()
        for url, blob in zip(urls, blobs):
            if blob is None or not is_pdf(blob):
                continue
            if _prune_skip(blob, b"/AcroForm"):
                continue
            for x in extract_form_fields(load_document(blob)):
                cols["url"].append(url)
                cols["pos"].append(x["pos"])
                cols["fname"].append(x["name"])
                cols["ft"].append(x["ft"])
                cols["fvalue"].append(x["value"])
        if cols["url"]:
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], f.type) for f in _FORMFIELD_ARROW],
                schema=_FORMFIELD_ARROW,
            )
            for v in cols.values():
                v.clear()


@_q(
    "pdf_formfields",
    f"""WITH {corpus_cte()},
{formfield_cte()}
SELECT d.url, CAST(f.pos AS INT) AS pos, f.fname, f.ft, f.fvalue
FROM docs d JOIN ff f ON f.rid = d.rid""",
)
def pdf_formfields(spark, sf):
    """AcroForm field values across the corpus [PDF17 SS12.7]: terminal
    fields with dotted fully-qualified names, inherited /FT and /V
    resolved (radio-group pattern), values rendered deterministically —
    hash-verified against frozen per-recipe rows. Narrow Arrow stage."""
    raw = _corpus(spark, sf)
    return raw.mapInArrow(
        _formfield_batches, from_arrow_schema(_FORMFIELD_ARROW)
    )


@_q(
    "pdf_images",
    f"""WITH {corpus_cte()},
{types_cte()}
SELECT d.url, CAST(t.cnt AS BIGINT) AS n_images
FROM docs d JOIN ty t ON t.rid = d.rid
WHERE t.type_name = 'xobject_image'""",
)
def pdf_images(spark, sf):
    """Per-document image-XObject inventory (the PDF side of the
    multimodal mining story: which documents carry raster images worth
    decoding, before any pixel bytes move).  Rides the cached typed
    objects table — the type checker already classified every object, so
    this is a filter + per-url count, no second engine pass.

    Scale: the filter prunes to image objects in the scan; the groupBy
    keys on url with map-side combine — one narrow exchange of (url,
    count) pairs."""
    objects = _cached(spark, sf, "objects")
    return (
        objects.filter(F.col("type_name") == "xobject_image")
        .groupBy("url")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_images"))
    )


_JS_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("pos", pa.int32()),
        ("source", pa.string()),
        ("js_len", pa.int32()),
        ("js_md5", pa.string()),
        ("js_head", pa.string()),
    ]
)


def _js_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    from caraspark.pdfengine.api import is_pdf
    from caraspark.pdfengine.document import extract_javascript, load_document

    cols = {f.name: [] for f in _JS_ARROW}
    for batch in it:
        urls = batch.column("url").to_pylist()
        blobs = batch.column("html").to_pylist()
        for url, blob in zip(urls, blobs):
            if blob is None or not is_pdf(blob):
                continue
            # a /JavaScript (or abbreviated /JS) action name needs a
            # literal "/J" somewhere in plaintext — see _prune_skip
            if _prune_skip(blob, b"/J"):
                continue
            for j in extract_javascript(load_document(blob)):
                cols["url"].append(url)
                cols["pos"].append(j["pos"])
                cols["source"].append(j["source"])
                cols["js_len"].append(j["js_len"])
                cols["js_md5"].append(j["js_md5"])
                cols["js_head"].append(j["js_head"])
        if cols["url"]:
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], f.type) for f in _JS_ARROW],
                schema=_JS_ARROW,
            )
            for v in cols.values():
                v.clear()


@_q(
    "pdf_javascript",
    f"""WITH {corpus_cte()},
{js_cte()}
SELECT d.url, j.pos, j.source, j.js_len, j.js_md5, j.js_head
FROM docs d JOIN js j ON j.rid = d.rid""",
)
def pdf_javascript(spark, sf):
    """JavaScript inventory across the corpus [PDF17 SS12.6.4.16]: every
    /S /JavaScript action reachable from the catalog (OpenAction chains,
    catalog /AA, the /Names /JavaScript name tree, annotation /A + /AA),
    with payload length/md5/head — the hostile-PDF triage table (the
    LangSec motivation: surface active content, don't just render it).
    Hash-verified against frozen per-recipe rows; stream-backed /JS
    payloads pin the filter chain too. Narrow Arrow stage like every
    side table; only digests and 32-char heads leave the executor."""
    raw = _corpus(spark, sf)
    return raw.mapInArrow(_js_batches, from_arrow_schema(_JS_ARROW))


_ACT_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("pos", pa.int32()),
        ("source", pa.string()),
        ("s", pa.string()),
        ("target", pa.string()),
    ]
)


def _act_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    from caraspark.pdfengine.api import is_pdf
    from caraspark.pdfengine.document import extract_actions, load_document

    cols = {f.name: [] for f in _ACT_ARROW}
    for batch in it:
        urls = batch.column("url").to_pylist()
        blobs = batch.column("html").to_pylist()
        for url, blob in zip(urls, blobs):
            if blob is None or not is_pdf(blob):
                continue
            # actions hang off exactly five catalog hooks — a blob with
            # none of their marker names (see _prune_skip) has no
            # reachable action at all
            if _prune_skip(blob, b"/OpenAction", b"/AA", b"/JavaScript",
                           b"/Annots", b"/Outlines"):
                continue
            for a in extract_actions(load_document(blob)):
                cols["url"].append(url)
                cols["pos"].append(a["pos"])
                cols["source"].append(a["source"])
                cols["s"].append(a["s"])
                cols["target"].append(a["target"])
        if cols["url"]:
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], f.type) for f in _ACT_ARROW],
                schema=_ACT_ARROW,
            )
            for v in cols.values():
                v.clear()


@_q(
    "pdf_actions",
    f"""WITH {corpus_cte()},
{actions_cte()}
SELECT d.url, CAST(a.pos AS INT) AS pos, a.source, a.s, a.target
FROM docs d JOIN act a ON a.rid = d.rid""",
)
def pdf_actions(spark, sf):
    """Action census across the corpus [PDF17 SS12.6]: EVERY action
    reachable from the catalog (the shared walk: OpenAction chains,
    catalog /AA, the JavaScript name tree, annotation /A + /AA,
    outline-item /A) with its /S subtype and bounded target detail — the
    full hostile-action triage surface (Launch//GoToR reach outside the
    document, URI//SubmitForm exfiltrate, Named drives the viewer), not
    just the JavaScript slice `pdf_javascript` pins. Hash-verified
    against frozen per-recipe rows. Narrow Arrow stage; only subtype
    names and 64-char target heads leave the executor."""
    raw = _corpus(spark, sf)
    return raw.mapInArrow(_act_batches, from_arrow_schema(_ACT_ARROW))


_REV_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("rev", pa.int32()),
        ("kind", pa.string()),
        ("size", pa.int32()),
        ("has_prev", pa.bool_()),
        ("has_xrefstm", pa.bool_()),
        ("n_won", pa.int32()),
    ]
)


def _rev_batches(it):
    from caraspark.pdfengine.api import is_pdf
    from caraspark.pdfengine.document import extract_revisions, load_document

    cols = {f.name: [] for f in _REV_ARROW}
    for batch in it:
        urls = batch.column("url").to_pylist()
        blobs = batch.column("html").to_pylist()
        for url, blob in zip(urls, blobs):
            if blob is None or not is_pdf(blob):
                continue
            for rv in extract_revisions(load_document(blob)):
                cols["url"].append(url)
                cols["rev"].append(rv["rev"])
                cols["kind"].append(rv["kind"])
                cols["size"].append(rv["size"])
                cols["has_prev"].append(rv["has_prev"])
                cols["has_xrefstm"].append(rv["has_xrefstm"])
                cols["n_won"].append(rv["n_won"])
        if cols["url"]:
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], f.type) for f in _REV_ARROW],
                schema=_REV_ARROW,
            )
            cols = {f.name: [] for f in _REV_ARROW}


@_q(
    "pdf_revisions",
    f"""WITH {corpus_cte()},
{revision_cte()}
SELECT d.url, CAST(r.rev AS INT) AS rev, r.rkind AS kind,
       CAST(r.rsize AS INT) AS size, r.has_prev, r.has_xrefstm,
       CAST(r.n_won AS INT) AS n_won
FROM docs d JOIN rv r ON r.rid = d.rid""",
)
def pdf_revisions(spark, sf):
    """Incremental-update forensics across the corpus (C12 chain,
    [PDF17 §7.5.6]): one row per revision with its trailer kind
    (classic vs xref-stream), declared /Size, /Prev and hybrid /XRefStm
    flags, and n_won — the in-use xref entries the revision still owns
    under newest-first first-writer-wins, i.e. what each later save
    actually touched (signature-defeating object swaps surface exactly
    here). Narrow Arrow stage; only fixed-width facts leave the
    executor."""
    raw = _corpus(spark, sf)
    return raw.mapInArrow(_rev_batches, from_arrow_schema(_REV_ARROW))


_PAGES_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("page", pa.int32()),
        ("obj", pa.string()),
        ("content_bytes", pa.int32()),
        ("text_len", pa.int32()),
        ("text_md5", pa.string()),
    ]
)


def _pages_batches(it):
    from caraspark.pdfengine.api import is_pdf
    from caraspark.pdfengine.document import load_document
    from caraspark.pdfengine.textextract import extract_pages

    cols = {f.name: [] for f in _PAGES_ARROW}
    for batch in it:
        urls = batch.column("url").to_pylist()
        blobs = batch.column("html").to_pylist()
        for url, blob in zip(urls, blobs):
            if blob is None or not is_pdf(blob):
                continue
            for pg in extract_pages(load_document(blob)):
                cols["url"].append(url)
                cols["page"].append(pg["page"])
                cols["obj"].append(pg["obj"])
                cols["content_bytes"].append(pg["content_bytes"])
                cols["text_len"].append(pg["text_len"])
                cols["text_md5"].append(pg["text_md5"])
        if cols["url"]:
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], f.type) for f in _PAGES_ARROW],
                schema=_PAGES_ARROW,
            )
            cols = {f.name: [] for f in _PAGES_ARROW}


@_q(
    "pdf_pages",
    f"""WITH {corpus_cte()},
{pages_cte()}
SELECT d.url, CAST(p.page AS INT) AS page, p.pobj AS obj,
       CAST(p.content_bytes AS INT) AS content_bytes,
       CAST(p.text_len AS INT) AS text_len, p.text_md5
FROM docs d JOIN pg p ON p.rid = d.rid""",
)
def pdf_pages(spark, sf):
    """Per-page text facts across the corpus: the page-granular view of
    the extraction pipeline (tree-order page index, page object id,
    assembled /Contents byte count, per-page text length + md5) — pins
    the page-tree DFS, multi-stream /Contents assembly, and per-page
    resource contexts against the frozen rows, independently of the
    whole-document form-feed join the goldens pin. Narrow Arrow stage;
    digests only."""
    raw = _corpus(spark, sf)
    return raw.mapInArrow(_pages_batches, from_arrow_schema(_PAGES_ARROW))


_FONTS_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("obj", pa.string()),
        ("subtype", pa.string()),
        ("base_font", pa.string()),
        ("embedded", pa.bool_()),
    ]
)


def _fonts_batches(it):
    from caraspark.pdfengine.api import is_pdf
    from caraspark.pdfengine.document import extract_fonts, load_document

    cols = {f.name: [] for f in _FONTS_ARROW}
    for batch in it:
        urls = batch.column("url").to_pylist()
        blobs = batch.column("html").to_pylist()
        for url, blob in zip(urls, blobs):
            if blob is None or not is_pdf(blob):
                continue
            if _prune_skip(blob, b"/Font"):
                continue
            for ft in extract_fonts(load_document(blob)):
                cols["url"].append(url)
                cols["obj"].append(ft["obj"])
                cols["subtype"].append(ft["subtype"])
                cols["base_font"].append(ft["base_font"])
                cols["embedded"].append(ft["embedded"])
        if cols["url"]:
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], f.type) for f in _FONTS_ARROW],
                schema=_FONTS_ARROW,
            )
            cols = {f.name: [] for f in _FONTS_ARROW}


@_q(
    "pdf_fonts",
    f"""WITH {corpus_cte()},
{fonts_cte()}
SELECT d.url, f.fobj AS obj, f.subtype, f.base_font, f.embedded
FROM docs d JOIN ft f ON f.rid = d.rid""",
)
def pdf_fonts(spark, sf):
    """Font census across the corpus [PDF17 §9]: every type-checked
    font-family object with its subtype, BaseFont and EMBEDDING status
    (descriptor /FontFile*, Type0 resolved through its descendant) —
    the rendering-fidelity / extraction-coverage audit surface: a
    non-embedded font means text extraction depended on external
    metrics. Byte-level /Font prune skips fontless documents before any
    parse; narrow Arrow stage, fixed-width facts only."""
    raw = _corpus(spark, sf)
    return raw.mapInArrow(_fonts_batches, from_arrow_schema(_FONTS_ARROW))


_SIGS_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("obj", pa.string()),
        ("filter", pa.string()),
        ("subfilter", pa.string()),
        ("n_ranges", pa.int32()),
        ("starts_at_zero", pa.bool_()),
        ("unsigned_tail", pa.int32()),
    ]
)


def _sigs_batches(it):
    from caraspark.pdfengine.api import is_pdf
    from caraspark.pdfengine.document import (
        extract_signatures,
        load_document,
    )

    cols = {f.name: [] for f in _SIGS_ARROW}
    for batch in it:
        urls = batch.column("url").to_pylist()
        blobs = batch.column("html").to_pylist()
        for url, blob in zip(urls, blobs):
            if blob is None or not is_pdf(blob):
                continue
            if _prune_skip(blob, b"/ByteRange"):
                continue
            blob = bytes(blob)
            for sg in extract_signatures(load_document(blob), len(blob)):
                cols["url"].append(url)
                cols["obj"].append(sg["obj"])
                cols["filter"].append(sg["filter"])
                cols["subfilter"].append(sg["subfilter"])
                cols["n_ranges"].append(sg["n_ranges"])
                cols["starts_at_zero"].append(sg["starts_at_zero"])
                cols["unsigned_tail"].append(sg["unsigned_tail"])
        if cols["url"]:
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], f.type) for f in _SIGS_ARROW],
                schema=_SIGS_ARROW,
            )
            cols = {f.name: [] for f in _SIGS_ARROW}


@_q(
    "pdf_sigs",
    f"""WITH {corpus_cte()},
{sigs_cte()}
SELECT d.url, s.sobj AS obj, s.filter, s.subfilter,
       CAST(s.n_ranges AS INT) AS n_ranges, s.starts_at_zero,
       CAST(s.unsigned_tail AS INT) AS unsigned_tail
FROM docs d JOIN sg s ON s.rid = d.rid""",
)
def pdf_sigs(spark, sf):
    """Signature-coverage forensics across the corpus [PDF17 §12.8.1]:
    every type-checked signature dict with Filter/SubFilter, ByteRange
    shape (range count, zero start) and ``unsigned_tail`` — the bytes an
    incremental update appended AFTER signing (the content-swap vector
    ``pdf_revisions``' n_won localizes). Byte-level /ByteRange prune
    skips unsigned documents before any parse; narrow Arrow stage,
    fixed-width facts only."""
    raw = _corpus(spark, sf)
    return raw.mapInArrow(_sigs_batches, from_arrow_schema(_SIGS_ARROW))


_XMP_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("obj", pa.string()),
        ("xmp_title", pa.string()),
        ("xmp_creator", pa.string()),
        ("create_date", pa.string()),
        ("info_title", pa.string()),
        ("title_match", pa.bool_()),
    ]
)


def _xmp_batches(it):
    from caraspark.pdfengine.api import is_pdf
    from caraspark.pdfengine.document import extract_xmp, load_document

    cols = {f.name: [] for f in _XMP_ARROW}
    for batch in it:
        urls = batch.column("url").to_pylist()
        blobs = batch.column("html").to_pylist()
        for url, blob in zip(urls, blobs):
            if blob is None or not is_pdf(blob):
                continue
            if _prune_skip(blob, b"/Metadata"):
                continue
            for xr in extract_xmp(load_document(bytes(blob))):
                cols["url"].append(url)
                cols["obj"].append(xr["obj"])
                cols["xmp_title"].append(xr["xmp_title"])
                cols["xmp_creator"].append(xr["xmp_creator"])
                cols["create_date"].append(xr["create_date"])
                cols["info_title"].append(xr["info_title"])
                cols["title_match"].append(xr["title_match"])
        if cols["url"]:
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], f.type) for f in _XMP_ARROW],
                schema=_XMP_ARROW,
            )
            cols = {f.name: [] for f in _XMP_ARROW}


@_q(
    "pdf_xmp",
    f"""WITH {corpus_cte()},
{xmp_cte()}
SELECT d.url, x.xobj AS obj, x.xmp_title, x.xmp_creator, x.create_date,
       x.info_title, x.title_match
FROM docs d JOIN xm x ON x.rid = d.rid""",
)
def pdf_xmp(spark, sf):
    """Dual-metadata census across the corpus [PDF17 §14.3]: every XMP
    metadata stream's dc:title / dc:creator / xmp:CreateDate next to the
    trailer /Info /Title, with the title_match cross-check that flags
    tooling drift and tampering (producers SHOULD keep packet and Info
    synchronized). Byte-level /Metadata prune skips packless documents
    before any parse; narrow Arrow stage, fixed-width facts only."""
    raw = _corpus(spark, sf)
    return raw.mapInArrow(_xmp_batches, from_arrow_schema(_XMP_ARROW))


_SCAV_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("n_markers", pa.int32()),
        ("n_parsed", pa.int32()),
        ("n_confirmed", pa.int32()),
        ("n_shadow", pa.int32()),
        ("n_xref_inuse", pa.int32()),
    ]
)


def _scav_batches(it):
    from caraspark.pdfengine.api import is_pdf
    from caraspark.pdfengine.document import scavenge_summary

    cols = {f.name: [] for f in _SCAV_ARROW}
    for batch in it:
        urls = batch.column("url").to_pylist()
        blobs = batch.column("html").to_pylist()
        for url, blob in zip(urls, blobs):
            if blob is None or not is_pdf(blob):
                continue
            nm, np_, nc, ns, nx = scavenge_summary(bytes(blob))
            cols["url"].append(url)
            cols["n_markers"].append(nm)
            cols["n_parsed"].append(np_)
            cols["n_confirmed"].append(nc)
            cols["n_shadow"].append(ns)
            cols["n_xref_inuse"].append(nx)
        if cols["url"]:
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], f.type) for f in _SCAV_ARROW],
                schema=_SCAV_ARROW,
            )
            for v in cols.values():
                v.clear()


@_q(
    "pdf_scavenge",
    f"""WITH {corpus_cte()},
{scav_cte()}
SELECT d.url, CAST(s.n_markers AS INT) AS n_markers,
       CAST(s.n_parsed AS INT) AS n_parsed,
       CAST(s.n_confirmed AS INT) AS n_confirmed,
       CAST(s.n_shadow AS INT) AS n_shadow,
       CAST(s.n_xref_inuse AS INT) AS n_xref_inuse
FROM docs d JOIN sv s ON s.rid = d.rid""",
)
def pdf_scavenge(spark, sf):
    """Xref-free recovery census across the corpus: scan every PDF's raw
    bytes for ``N G obj`` headers, parse each WITHOUT the xref, and
    reconcile against what the xref owns — `n_confirmed` (a live inuse
    entry points at exactly this header), `n_shadow` (headers only
    recovery sees: superseded revisions after incremental update, orphans,
    or ALL objects when the xref is dead). The truncated/bad-offset
    recipes pin the dead-xref extreme (xref resolves 0, scavenger still
    recovers), `pdf_updated` pins the superseded-revision shadow, clean
    recipes pin shadow = 0. Capability parity: caradoc's recovery/object-
    scan family (``src/parser/`` [P]).

    Scale shape: one narrow Arrow pass per document partition — the scan
    is a compiled-regex pass over bytes already in the task, the recovery
    parse reuses the bounded throw-free engine, output is six fixed-width
    ints per url; zero shuffles, giants handled by the corpus' size-class
    salting like every other engine pass."""
    raw = _corpus(spark, sf)
    return raw.mapInArrow(_scav_batches, from_arrow_schema(_SCAV_ARROW))


_REPAIR_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("repaired_bytes", pa.int64()),
        ("repaired_md5", pa.string()),
        ("n_objects", pa.int32()),
        ("repaired_valid", pa.bool_()),
    ]
)


def _repair_batches(it):
    import hashlib

    from caraspark.pdfengine.api import is_pdf, process_document
    from caraspark.pdfengine.cleanup import repair_document
    from caraspark.pdfengine.document import load_document

    cols = {f.name: [] for f in _REPAIR_ARROW}
    for batch in it:
        urls = batch.column("url").to_pylist()
        blobs = batch.column("html").to_pylist()
        for url, blob in zip(urls, blobs):
            if blob is None or not is_pdf(blob):
                continue
            rep = repair_document(bytes(blob))
            cols["url"].append(url)
            cols["repaired_bytes"].append(len(rep))
            cols["repaired_md5"].append(hashlib.md5(rep).hexdigest())
            cols["n_objects"].append(len(load_document(rep).objects))
            cols["repaired_valid"].append(process_document(rep).valid)
        if cols["url"]:
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], f.type) for f in _REPAIR_ARROW],
                schema=_REPAIR_ARROW,
            )
            for v in cols.values():
                v.clear()


@_q(
    "pdf_repair",
    f"""WITH {corpus_cte()},
{repair_cte()}
SELECT d.url, CAST(r.repaired_bytes AS BIGINT) AS repaired_bytes,
       r.repaired_md5, CAST(r.n_objects AS INT) AS n_objects,
       r.repaired_valid
FROM docs d JOIN rp r ON r.rid = d.rid""",
)
def pdf_repair(spark, sf):
    """Corpus-scale recovery rewrite: every PDF repaired via the
    scavenge-backed writer (``cleanup.repair_document``) and re-validated
    — repaired bytes are md5-pinned per recipe, so the whole
    scavenge→last-wins→decode-or-keep-raw→canonical-write chain is
    byte-deterministic end to end across the distributed pass. The
    truncated/bad-offset recipes pin the dead-xref branch (normal load
    gets nothing, repair emits a VALID document); healthy recipes pin
    repair ≡ cleanup.

    Scale shape: one narrow Arrow pass per partition, same as every
    engine qkey — repair is per-document pure compute, no exchange; the
    output row is five fixed-width columns."""
    raw = _corpus(spark, sf)
    return raw.mapInArrow(_repair_batches, from_arrow_schema(_REPAIR_ARROW))


_ANNOT_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("pos", pa.int32()),
        ("page_idx", pa.int32()),
        ("subtype", pa.string()),
        ("has_action", pa.bool_()),
        ("has_aa", pa.bool_()),
        ("has_appearance", pa.bool_()),
    ]
)


def _annot_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    from caraspark.pdfengine.api import is_pdf
    from caraspark.pdfengine.document import (
        extract_annotations,
        load_document,
    )

    cols = {f.name: [] for f in _ANNOT_ARROW}
    for batch in it:
        urls = batch.column("url").to_pylist()
        blobs = batch.column("html").to_pylist()
        for url, blob in zip(urls, blobs):
            if blob is None or not is_pdf(blob):
                continue
            if _prune_skip(blob, b"/Annots"):
                continue
            for a in extract_annotations(load_document(blob)):
                cols["url"].append(url)
                cols["pos"].append(a["pos"])
                cols["page_idx"].append(a["page_idx"])
                cols["subtype"].append(a["subtype"])
                cols["has_action"].append(a["has_action"])
                cols["has_aa"].append(a["has_aa"])
                cols["has_appearance"].append(a["has_appearance"])
        if cols["url"]:
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], f.type) for f in _ANNOT_ARROW],
                schema=_ANNOT_ARROW,
            )
            for v in cols.values():
                v.clear()


@_q(
    "pdf_annots",
    f"""WITH {corpus_cte()},
{annot_cte()}
SELECT d.url, CAST(a.pos AS INT) AS pos, CAST(a.page_idx AS INT) AS page_idx,
       a.subtype, a.has_action, a.has_aa, a.has_appearance
FROM docs d JOIN an a ON a.rid = d.rid""",
)
def pdf_annots(spark, sf):
    """Annotation census across the corpus [PDF17 SS12.5]: every entry
    of every page's /Annots array in page-tree order, with its /Subtype
    and the has-/A, has-/AA, has-/AP flags — the per-annotation
    inventory behind interactive-feature triage, complementing
    ``pdf_actions`` (which only sees annotations carrying actions) and
    the typechecker's 22 annotation classes (which validate but don't
    tabulate).  Hash-verified against frozen per-recipe rows.  Narrow
    Arrow stage; the ``/Annots`` byte-marker prune skips the page walk
    for the (overwhelming at web scale) annotation-free majority."""
    raw = _corpus(spark, sf)
    return raw.mapInArrow(_annot_batches, from_arrow_schema(_ANNOT_ARROW))


_CONTENTOP_ARROW = pa.schema(
    [("url", pa.string()), ("op", pa.string()), ("n", pa.int32())]
)


def _contentop_batches(
    it: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    from caraspark.pdfengine.api import is_pdf
    from caraspark.pdfengine.document import load_document
    from caraspark.pdfengine.textextract import content_op_histogram

    cols = {f.name: [] for f in _CONTENTOP_ARROW}
    for batch in it:
        urls = batch.column("url").to_pylist()
        blobs = batch.column("html").to_pylist()
        for url, blob in zip(urls, blobs):
            if blob is None or not is_pdf(blob):
                continue
            for r in content_op_histogram(load_document(blob)):
                cols["url"].append(url)
                cols["op"].append(r["op"])
                cols["n"].append(r["n"])
        if cols["url"]:
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], f.type) for f in _CONTENTOP_ARROW],
                schema=_CONTENTOP_ARROW,
            )
            for v in cols.values():
                v.clear()


@_q(
    "pdf_content_ops",
    f"""WITH {corpus_cte()},
{contentop_cte()}
SELECT d.url, c.op, CAST(c.n AS INT) AS n
FROM docs d JOIN co c ON c.rid = d.rid""",
)
def pdf_content_ops(spark, sf):
    """Content-stream operator histogram across the corpus [PDF17
    SS8-9]: per document, how many of each operator its pages' decoded
    content streams execute (text Tj/TJ/Tf, paths m/l/re/f, XObject Do,
    state q/Q/cm, inline-image BI/ID/EI with payload bytes skipped via
    the extractor's own EI scan) — an extraction-quality signal
    (text-op-free pages are scans needing OCR) and a renderer
    attack-surface profile.  Same lexer, same page order, same Form
    XObject boundaries as text extraction; hash-verified against frozen
    per-recipe rows.  Narrow Arrow stage; only (op, count) pairs leave
    the executor."""
    raw = _corpus(spark, sf)
    return raw.mapInArrow(
        _contentop_batches, from_arrow_schema(_CONTENTOP_ARROW)
    )


_STREAMSTAT_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("num", pa.int32()),
        ("gen", pa.int32()),
        ("decoded", pa.bool_()),
        ("n_bytes", pa.int64()),
        ("n_distinct", pa.int32()),
        ("top_permille", pa.int32()),
    ]
)


def _streamstat_batches(
    it: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    from caraspark.pdfengine.api import is_pdf
    from caraspark.pdfengine.document import load_document, stream_stats

    cols = {f.name: [] for f in _STREAMSTAT_ARROW}
    for batch in it:
        urls = batch.column("url").to_pylist()
        blobs = batch.column("html").to_pylist()
        for url, blob in zip(urls, blobs):
            if blob is None or not is_pdf(blob):
                continue
            for r in stream_stats(load_document(blob)):
                cols["url"].append(url)
                cols["num"].append(r["num"])
                cols["gen"].append(r["gen"])
                cols["decoded"].append(r["decoded"])
                cols["n_bytes"].append(r["n_bytes"])
                cols["n_distinct"].append(r["n_distinct"])
                cols["top_permille"].append(r["top_permille"])
        if cols["url"]:
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], f.type) for f in _STREAMSTAT_ARROW],
                schema=_STREAMSTAT_ARROW,
            )
            for v in cols.values():
                v.clear()


@_q(
    "pdf_stream_stats",
    f"""WITH {corpus_cte()},
{streamstat_cte()}
SELECT d.url, CAST(s.num AS INT) AS num, CAST(s.gen AS INT) AS gen,
       s.decoded, CAST(s.n_bytes AS BIGINT) AS n_bytes,
       CAST(s.n_distinct AS INT) AS n_distinct,
       CAST(s.top_permille AS INT) AS top_permille
FROM docs d JOIN ss s ON s.rid = d.rid""",
)
def pdf_stream_stats(spark, sf):
    """Per-stream byte-statistics census: decoded length, distinct-byte
    count, and modal-byte permille for EVERY stream object — the
    embedded-payload triage table (text-like streams: few distinct
    bytes, high mode; compressed/encrypted blobs: ≈256 distinct, flat
    mode) computed with exact integers, no float entropy; undecodable
    streams surface with decoded=FALSE, so filter-chain failures are
    tabulated, not silent.  Hash-verified against frozen per-recipe
    rows.  Narrow Arrow stage; payload bytes never leave the executor —
    only six small integers per stream."""
    raw = _corpus(spark, sf)
    return raw.mapInArrow(
        _streamstat_batches, from_arrow_schema(_STREAMSTAT_ARROW)
    )
