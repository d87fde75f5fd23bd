"""The production batch job (north_rule delivery form, SURVEY.md EP3′).

    spark-submit --master local[32] --py-files caraspark.zip \
        jobs/extract_job.py --input <documents_raw parquet> \
        --output <table dir> [--units 64] [--unit-chunk 16] \
        [--synth-docs N]  # generate the corpus instead of reading one

Reads documents_raw, stages it clustered by work-unit bucket (one
exchange, one file per bucket slice), runs the extraction pipeline, and
writes the extracted table partitioned by bucket with snapshot-manifest
commits every ``--unit-chunk`` units. Each chunk is one Spark job: its
read has the input schema pinned and its write observes every unit's row
count, which the commit records. Killing the job at any point loses at
most one chunk of work; rerunning resumes from the last committed snapshot
and reproduces byte-identical output (idempotent per-bucket dynamic
overwrite).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from pyspark.sql import Observation, functions as F  # noqa: E402

from caraspark.extract import extract  # noqa: E402
from caraspark.manifest import SnapshotManifest  # noqa: E402
from caraspark.session import get_spark  # noqa: E402


def stage_input(spark, raw, stage_dir: str, units: int) -> str:
    """Stage the input ONCE as bucket-partitioned parquet so every chunk
    iteration reads only its own bucket directories (footer-level partition
    pruning, zero re-scans of the full corpus).

    The round-1 loop filtered the FULL input per chunk — with
    units/unit_chunk = 64/16 the whole 100 TB corpus would be scanned 4×
    (worse with smaller chunks). Staging costs one scan and ONE exchange:
    a bucket-keyed ``REBALANCE`` in front of the partitioned write. Without
    it every input task writes one file into every bucket it touches —
    (input tasks × units) small files, each a footer, an open, a rename and
    ~20–35 ms of task time at write and again at read. With it each staged
    bucket lands as one file per rebalanced slice: AQE coalesces small
    buckets into one task and splits an oversized bucket into
    advisory-size slices, so a 10^12-doc corpus stages about
    (bytes ÷ ``spark.sql.adaptive.advisoryPartitionSizeInBytes``) files.
    The price is one shuffle of the raw blobs. It buys the rest of the
    pass too: a chunk read hands each task whole bucket files, so the
    snapshot write emits one file per bucket slice with no second
    exchange.

    Resume reuses an existing complete stage (``_STAGED`` marker — written
    by us after the job commit, since dynamic partition-overwrite mode
    omits Spark's ``_SUCCESS``): the staged layout is deterministic for an
    immutable input, which is already a prerequisite of byte-identical
    resume.
    """
    marker = os.path.join(stage_dir, "_STAGED")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == str(units):
                return stage_dir
    if os.path.exists(stage_dir):
        # stale or incomplete stage (different unit count, or a crash
        # between the parquet write and the marker write) — remove it
        # entirely: under dynamic partition overwrite, a rewrite touches
        # only buckets that receive rows, so leftover bucket dirs would
        # otherwise survive and be read as chunk input
        import shutil

        shutil.rmtree(stage_dir, ignore_errors=True)
    keyed = raw.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(units)).cast("int")
    )
    (
        keyed.hint("rebalance", "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(stage_dir)
    )
    with open(marker, "w") as f:
        f.write(str(units))
    return stage_dir


def chunk_input(spark, stage_dir: str, chunk: list[int], schema=None):
    """The per-chunk input DataFrame: reads ONLY the chunk's staged bucket
    directories (asserted by tests/test_resume.py::test_chunk_scan_is_pruned
    via ``inputFiles()``). ``schema`` pins the staged input's schema, so
    the read plans without a footer-inference job; without it the schema
    is inferred. A chunk whose buckets all received zero rows has no
    directories at all — that's an empty input, not an error (zero paths
    would make spark.read.parquet raise UNABLE_TO_INFER_SCHEMA)."""
    from caraspark.schemas import DOCUMENTS_RAW

    paths = [
        p
        for u in chunk
        if os.path.isdir(p := os.path.join(stage_dir, f"bucket={u}"))
    ]
    if not paths:
        return spark.createDataFrame([], schema or DOCUMENTS_RAW)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def run_job(
    spark,
    input_path: str | None,
    output_dir: str,
    units: int = 64,
    unit_chunk: int = 16,
    synth_docs: int = 0,
    fail_after_chunks: int | None = None,
    honor_robots: bool = False,
    min_quality: int | None = None,
    codec: str = "zstd",
) -> dict:
    """Returns run stats. ``fail_after_chunks`` is the crash-injection hook
    used by the resume test. ``honor_robots`` drops pages whose extracted
    robots meta declares ``noindex`` BEFORE they land in the snapshot —
    the exclusion is a scan-stage predicate on the already-extracted
    column (v14 SPEC), so compliance costs no extra pass; the dropped
    count is reported per run. ``min_quality`` gates each chunk on the
    shared quality-classifier score (``curation.quality_features``, the
    same integer arithmetic ``quality_logit``/``stream_quality`` pin):
    empty-text rows and rows scoring below the threshold never reach the
    snapshot; the chunk is persisted so the extraction UDF still runs
    once per document. ``codec`` sets the snapshot's parquet compression
    — zstd by default: at corpus scale the table is column-compressed
    text, where zstd typically halves snappy's footprint for a few
    percent of write CPU, and scan cost is decompression-bound on IO the
    smaller files win back."""
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    spark.conf.set("spark.sql.parquet.compression.codec", codec)

    man = SnapshotManifest(output_dir)
    todo = man.plan_units(list(range(units)))
    data_dir = os.path.join(output_dir, "data")
    gen_dir = os.path.join(data_dir, "gen=0")
    stage_dir = os.path.join(output_dir, "_stage")
    t0 = time.time()
    n_chunks = 0
    docs_done = 0

    if todo:
        if synth_docs:
            from caraspark.corpus import synth_df

            raw = synth_df(spark, synth_docs)
        else:
            raw = spark.read.parquet(input_path)
        stage_input(spark, raw, stage_dir, units)

    n_noindex = 0
    for i in range(0, len(todo), unit_chunk):
        chunk = todo[i : i + unit_chunk]
        part = chunk_input(spark, stage_dir, chunk, raw.schema)
        seen = None
        if honor_robots and min_quality is None:
            # extraction is 1:1 per input row, so the dropped count is
            # (chunk input rows) - (written rows); both are observed by
            # the chunk's one write job — counting the filtered-out side
            # directly would run the extraction UDF a second time
            seen = Observation()
            part = part.observe(seen, F.count(F.lit(1)).alias("rows"))
        ex = extract(part).withColumn(
            "bucket", F.pmod(F.xxhash64("url"), F.lit(units)).cast("int")
        )
        if honor_robots:
            ex = ex.filter(
                F.col("robots_meta").isNull()
                | ~F.col("robots_meta").contains("noindex")
            )
        persisted = None
        if min_quality is not None:
            from caraspark.curation import quality_features

            persisted = ex = ex.persist()
            n_in = int(part.count())
            keep = (
                quality_features(
                    ex.filter(F.length("text") > 0)
                    .select(F.col("url").alias("doc_id"), "text")
                )
                .filter(F.col("score") >= int(min_quality))
                .select(F.col("doc_id").alias("url"))
            )
            ex = ex.join(keep, "url", "left_semi")
        # per-unit row counts, observed by the write job itself (the
        # chunk's input holds only its own buckets) — no re-count job
        written = Observation()
        ex = ex.observe(
            written,
            *[F.count_if(F.col("bucket") == u).alias(str(u)) for u in chunk],
        )
        ex.write.mode("overwrite").partitionBy("bucket").parquet(gen_dir)
        if persisted is not None:
            persisted.unpersist()
        counts = written.get
        rows = {u: int(counts[str(u)]) for u in chunk}
        n = sum(rows.values())
        if seen is not None:
            n_in = int(seen.get["rows"])
        if honor_robots or min_quality is not None:
            n_noindex += n_in - n
        man.commit({u: {"rows": rows[u], "chunk": n_chunks} for u in chunk})
        docs_done += n
        n_chunks += 1
        if fail_after_chunks is not None and n_chunks >= fail_after_chunks:
            return {"crashed": True, "chunks": n_chunks, "docs": docs_done}
    if todo:
        import shutil

        shutil.rmtree(stage_dir, ignore_errors=True)
    wall = time.time() - t0
    stats = {
        "crashed": False,
        "chunks": n_chunks,
        "docs": docs_done,
        "wall_s": round(wall, 3),
        "units_done": len(man.committed_units()),
    }
    if honor_robots and min_quality is None:
        stats["noindex_dropped"] = n_noindex
    elif min_quality is not None:
        # combined compliance+quality drop count when both gates are on
        stats["filtered_dropped"] = n_noindex
    return stats


def _empty_extracted(spark):
    """Empty DataFrame with the REAL extracted-table schema (EXTRACTED +
    the ``bucket`` partition column), so nothing-committed / nothing-changed
    reads are schema-compatible with the normal path — a consumer selecting
    ``text`` or ``verdict`` must not crash only in the empty case."""
    from pyspark.sql import types as T

    from caraspark.schemas import EXTRACTED

    schema = T.StructType(
        list(EXTRACTED.fields) + [T.StructField("bucket", T.IntegerType(), True)]
    )
    return spark.createDataFrame([], schema)


def _read_pinned(spark, output_dir: str, paths: list[str]):
    """Read committed unit paths with the CURRENT table schema pinned
    (schema evolution): a snapshot written before a surface column
    existed still reads — the missing parquet columns come back NULL —
    so new consumers never crash on old data, and time travel to
    pre-surface snapshots keeps working as the engine grows columns."""
    from caraspark.schemas import extracted_read_schema

    df = (
        spark.read.option("basePath", os.path.join(output_dir, "data"))
        .schema(extracted_read_schema())
        .parquet(*paths)
    )
    return df.drop("gen")


def read_extracted(spark, output_dir: str, snapshot_id: int | None = None):
    """Read ONLY manifest-committed units (the snapshot-consistent view),
    at the CONCRETE per-unit paths the snapshot records (gen-aware) — a
    reader is therefore unaffected by concurrent compaction rewrites.
    ``snapshot_id`` time-travels to an earlier commit of the chain."""
    man = SnapshotManifest(output_dir)
    paths = [p for p in man.unit_paths(snapshot_id) if os.path.isdir(p)]
    if not paths:
        # no committed units, or none of them produced any rows
        return _empty_extracted(spark)
    return _read_pinned(spark, output_dir, paths)


def upsert_recrawl(
    spark, output_dir: str, new_raw, units: int = 64, max_tasks: int = 64
) -> dict:
    """MERGE a re-crawl batch into the snapshot table by url: a
    re-fetched page REPLACES its old row, a never-seen url appends —
    the write mode a living web corpus needs between full rebuilds
    (Iceberg MERGE INTO semantics on the bucket lake).

    Plan shape: the batch is extracted once and bucketed with the
    table's own url hash; only buckets that actually RECEIVED new rows
    are read back (path-pruned, pinned schema) and rewritten into a
    fresh generation — a 1%-of-hosts re-crawl rewrites ~1% of a 100 TB
    table, never the rest. Old versions drop via a LEFT ANTI join on
    url against the batch (broadcast when the batch is small). Within
    the batch, the LATEST fetch per url wins (warc_ts desc, md5(html)
    tiebreak so equal-timestamp duplicates stay deterministic). The
    only driver traffic is the touched-bucket id list (bounded by
    ``units``). Readers pinned to older snapshots are unaffected:
    the rewrite lands in a new gen dir and old files are deleted only
    by ``expire_snapshots``."""
    from pyspark.sql import Window as W

    from caraspark.schemas import extracted_read_schema

    man = SnapshotManifest(output_dir)
    snap = man.current_snapshot()
    data = os.path.join(output_dir, "data")

    w = W.partitionBy("url").orderBy(
        F.col("warc_ts").desc_nulls_last(), F.md5("html").desc()
    )
    latest = (
        new_raw.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    ex = extract(latest).withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(units)).cast("int")
    )
    ex = ex.persist()
    touched = sorted(
        r.bucket for r in ex.select("bucket").distinct().collect()
    )
    if not touched:
        ex.unpersist()
        return {
            "upserted": 0,
            "touched_buckets": [],
            "snapshot_id": snap["snapshot_id"] if snap else None,
        }
    new_gen = (snap["snapshot_id"] + 1) if snap else 1
    gen_dir = os.path.join(data, f"gen={new_gen}")
    touched_set = set(touched)
    src_paths = [
        p
        for p in (man.unit_paths() if snap else [])
        if int(os.path.basename(p).split("=", 1)[1]) in touched_set
        and os.path.isdir(p)
    ]
    merged = ex
    if src_paths:
        old = (
            spark.read.option("basePath", data)
            .schema(extracted_read_schema())
            .parquet(*src_paths)
            .drop("gen")
        )
        keep = old.join(ex.select("url"), "url", "left_anti")
        merged = keep.unionByName(
            ex.select(*keep.columns), allowMissingColumns=False
        )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    (
        merged.repartition(min(len(touched), max_tasks), "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(gen_dir)
    )
    n = int(ex.count())
    ex.unpersist()
    cur_units = man.units_map()
    new_snap = man.commit(
        {
            # the rewritten bucket's old row count no longer holds
            u: {**{k: v for k, v in (cur_units.get(str(u)) or {}).items()
                   if k != "rows"},
                "gen": new_gen, "upsert": True}
            for u in touched
        }
    )
    return {
        "upserted": n,
        "touched_buckets": touched,
        "snapshot_id": new_snap["snapshot_id"],
    }


def read_incremental(
    spark, output_dir: str, from_snapshot_id: int,
    to_snapshot_id: int | None = None,
):
    """Incremental consumer view (Iceberg incremental-append read): only
    the units committed AFTER ``from_snapshot_id`` — a downstream job that
    checkpoints the last snapshot id it processed re-reads nothing. Path
    pruning happens at the manifest, so the scan never lists unchanged
    buckets."""
    man = SnapshotManifest(output_dir)
    paths = [
        p
        for p in man.changed_unit_paths(from_snapshot_id, to_snapshot_id)
        if os.path.isdir(p)
    ]
    if not paths:
        return _empty_extracted(spark)
    return _read_pinned(spark, output_dir, paths)


def export_jsonl(
    snap, out_dir: str, partitions: int = 8, columns: list | None = None
) -> None:
    """Training-data delivery off-ramp: the snapshot as gzip'd JSONL
    shards — the format tokenizer pipelines actually ingest. Entirely
    JVM-side (`to_json` + the gzip text writer; no Python, no UDF) and
    deterministic: rows shard by url hash and sort within shards, and
    Hadoop's gzip stream carries no timestamp, so re-exporting the same
    snapshot reproduces byte-identical shard payloads."""
    from pyspark.sql import functions as F

    cols = columns or ["url", "kind", "title", "text"]
    fields = [
        F.col(c).cast("string").alias(c) if c == "text" else F.col(c)
        for c in cols
    ]
    (
        snap.repartition(partitions, "url")
        .sortWithinPartitions("url")
        .select(F.to_json(F.struct(*fields)).alias("value"))
        .write.mode("overwrite")
        .option("compression", "gzip")
        .text(out_dir)
    )


def snapshot_diff(
    spark, output_dir: str, from_snapshot_id: int,
    to_snapshot_id: int | None = None,
):
    """CDC view between two snapshots: one row per url whose content
    moved, labeled ``change`` in {added, removed, changed} (with the
    new row's text alongside; removed rows carry NULL text) — what a
    downstream index/dedup/training-mix job consumes after an upsert
    instead of re-reading the table.

    Cost scales with the DELTA, not the table: only units whose
    generation moved between the snapshots (``changed_unit_paths``,
    two manifest resolutions, zero data files) are read — at both
    snapshot versions — and full-outer-joined on url inside those
    buckets. A compaction-only rewrite reads its buckets but emits
    zero rows (the md5 comparison sees identical content). Unknown
    snapshot ids error loudly, mirroring Iceberg."""
    man = SnapshotManifest(output_dir)
    changed = man.changed_unit_paths(from_snapshot_id, to_snapshot_id)
    units = {os.path.basename(p) for p in changed}
    if not units:
        return spark.createDataFrame(
            [], "url string, change string, text binary"
        )
    old_paths = [
        p
        for p in man.unit_paths(from_snapshot_id)
        if os.path.basename(p) in units and os.path.isdir(p)
    ] if from_snapshot_id else []
    new_paths = [
        p
        for p in man.unit_paths(to_snapshot_id)
        if os.path.basename(p) in units and os.path.isdir(p)
    ]

    def side(paths, tag):
        if not paths:
            return spark.createDataFrame(
                [], f"url string, sig_{tag} string, text_{tag} binary"
            )
        return _read_pinned(spark, output_dir, paths).select(
            "url",
            F.md5(F.coalesce(F.col("text"), F.lit(b""))).alias(f"sig_{tag}"),
            F.col("text").alias(f"text_{tag}"),
        )

    old = side(old_paths, "old")
    new = side(new_paths, "new")
    j = old.join(new, "url", "full_outer")
    return (
        j.filter(
            F.col("sig_old").isNull()
            | F.col("sig_new").isNull()
            | (F.col("sig_old") != F.col("sig_new"))
        )
        .select(
            "url",
            F.when(F.col("sig_old").isNull(), F.lit("added"))
            .when(F.col("sig_new").isNull(), F.lit("removed"))
            .otherwise(F.lit("changed"))
            .alias("change"),
            F.col("text_new").alias("text"),
        )
    )


def frontier_df(snap):
    """The crawl-frontier view of an extracted snapshot: one row per
    (page, outlink) with the absolute target URL and its host shard key.
    Resolution is base-aware — the v17 <base href> (itself resolved
    against the page URL when relative) is the effective base every href
    on the page resolves against, falling back to the page URL.
    Scan-stage regex over the exploded rows; posexplode is narrow, so
    the whole view adds zero exchanges to the snapshot read."""
    from caraspark.curation import resolve_url

    links = snap.select(
        "url", "base_href", F.posexplode("outlinks").alias("pos", "href")
    )
    # three-step aliasing on purpose: resolve_url embeds its base operand
    # at many points of its CASE/regex chain, so composing the effective
    # base INTO the outlink resolution (and that into the host regex)
    # re-inlines each inner tree at every reference — the generated
    # method topped Janino's 64 KB limit and the stage fell back to
    # interpreted eval. Multiply-referenced non-cheap aliases survive
    # CollapseProject, keeping each Project's codegen compact.
    eff = resolve_url(
        F.col("url"), F.coalesce(F.col("base_href"), F.lit(""))
    )
    based = links.select("url", "pos", "href", eff.alias("eff_base"))
    resolved = based.select(
        "url", "pos", "href",
        resolve_url(F.col("eff_base"), F.col("href")).alias("abs_url"),
    )
    return resolved.select(
        "url",
        F.col("pos").cast("int").alias("pos"),
        "href",
        "abs_url",
        F.regexp_extract(
            F.col("abs_url"), r"^[a-z]+://([^/?#]*)", 1
        ).alias("host"),
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input")
    ap.add_argument("--output", required=True)
    ap.add_argument("--units", type=int, default=64)
    ap.add_argument("--unit-chunk", type=int, default=16)
    ap.add_argument("--synth-docs", type=int, default=0)
    ap.add_argument("--compact", action="store_true",
                    help="compact fragmented buckets instead of extracting")
    ap.add_argument("--expire-keep", type=int, default=None,
                    help="expire all but the newest N snapshots (+orphan GC)")
    ap.add_argument("--expire-age", type=float, default=3 * 3600.0,
                    help="orphan GC age cutoff in seconds (protects a "
                         "concurrent writer's uncommitted buckets); pass 0 "
                         "only when no concurrent writers can exist")
    ap.add_argument("--rollback", type=int, default=None,
                    help="roll the table back to this snapshot id")
    ap.add_argument("--honor-robots", action="store_true",
                    help="drop noindex pages (v14 robots meta) before "
                         "they land in the snapshot")
    ap.add_argument("--min-quality", type=int, default=None,
                    help="drop pages whose quality-classifier score "
                         "(curation.quality_features) is below this "
                         "integer threshold before the snapshot commit")
    ap.add_argument("--wet", metavar="DIR", default=None,
                    help="after (or instead of) extracting, write the "
                         "current snapshot's text as WET-style WARC "
                         "conversion records to DIR")
    ap.add_argument("--wat", metavar="DIR", default=None,
                    help="write the current snapshot's (url, title, "
                         "outlinks) metadata as WAT-style WARC records "
                         "to DIR")
    ap.add_argument("--frontier", metavar="DIR", default=None,
                    help="write the next crawl wave: every outlink of "
                         "the current snapshot resolved to an absolute "
                         "URL (base-aware) with its host shard key")
    ap.add_argument("--codec", default="zstd",
                    help="parquet compression codec for the snapshot "
                         "(zstd | snappy | gzip | lz4 | none)")
    ap.add_argument("--jsonl", metavar="DIR", default=None,
                    help="export the current snapshot as gzip'd JSONL "
                         "shards (url/kind/title/text)")
    ap.add_argument("--upsert", metavar="PARQUET", default=None,
                    help="MERGE a re-crawl batch (raw pages parquet) "
                         "into the snapshot by url: re-fetched pages "
                         "replace their old rows, new urls append; only "
                         "receiving buckets are rewritten")
    args = ap.parse_args()
    spark = get_spark("caraspark-extract-job")
    if args.rollback is not None:
        print(SnapshotManifest(args.output).rollback(args.rollback))
        return
    if args.compact:
        from caraspark.maintenance import compact_table

        print(compact_table(spark, args.output))
        return
    if args.upsert is not None:
        batch = spark.read.parquet(args.upsert)
        print(upsert_recrawl(spark, args.output, batch, units=args.units))
        return
    if args.expire_keep is not None:
        print(
            SnapshotManifest(args.output).expire_snapshots(
                args.expire_keep, orphan_min_age_s=args.expire_age
            )
        )
        return
    if args.jsonl:
        export_jsonl(read_extracted(spark, args.output), args.jsonl)
        print({"jsonl_rows":
               spark.read.json(args.jsonl).count()})
        return
    if args.wet or args.wat or args.frontier:
        # off-ramps read the CURRENT snapshot — run after an extract pass
        from caraspark.warc import wat_sink_df, wet_sink_df

        snap = read_extracted(spark, args.output)
        if args.wet:
            wet_sink_df(snap.select("url", "text")).write.mode(
                "overwrite"
            ).parquet(args.wet)
            print({"wet_files": spark.read.parquet(args.wet).count()})
        if args.wat:
            wat_sink_df(
                snap.select("url", "title", "outlinks")
            ).write.mode("overwrite").parquet(args.wat)
            print({"wat_files": spark.read.parquet(args.wat).count()})
        if args.frontier:
            frontier_df(snap).write.mode("overwrite").parquet(args.frontier)
            print({"frontier_rows":
                   spark.read.parquet(args.frontier).count()})
        return
    stats = run_job(
        spark,
        args.input,
        args.output,
        units=args.units,
        unit_chunk=args.unit_chunk,
        synth_docs=args.synth_docs,
        honor_robots=args.honor_robots,
        min_quality=args.min_quality,
        codec=args.codec,
    )
    print(stats)


if __name__ == "__main__":
    main()
