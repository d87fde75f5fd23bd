"""The workloads: input, warm-up, timed pass, output and job ledger.

Sizes are chosen so that one run (three session starts, the timed passes,
the output check) stays under a minute at ``local[4]``: Spark's JVM start
and first query cost ~17 s of every run, so the passes get what is left.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter

from perfbench import inputs
from perfbench.check import Reference
from perfbench.procstat import CORES

# The warm-up runs the workload's own operation over the head of its input,
# split so that every core's Python worker starts, with few units so that
# it warms the write path without paying the full job's per-unit costs.
WARM_DOCS, WARM_UNITS = 128, 4


def _insert_with_udf(sql) -> bool:
    return "InsertIntoHadoopFsRelationCommand" in sql.plan and "MapInArrow" in sql.plan


class Workload:
    name = ""
    PASS_S = 4  # nominal seconds per pass: --seconds / PASS_S passes are timed

    def __init__(self, seed: int, bench):
        self.seed = seed
        self.bench = bench
        self.docs: list[dict] = []  # every document the timed pass reads
        self.warms = 0

    def path(self, *parts):
        return self.bench.path(*parts)

    def write(self, docs: list[dict], name: str, files: int) -> str:
        """A writer-order table of ``files`` parquet files."""
        path = self.path(name)
        step = -(-len(docs) // files)
        for k in range(files):
            inputs.write_table(docs[k * step:(k + 1) * step],
                               os.path.join(path, f"part-{k:05d}.parquet"))
        return path

    def properties(self) -> dict:
        return inputs.properties(self.docs)

    def doc_counts(self) -> Counter:
        return Counter(d["html"] for d in self.docs)

    def input_bytes(self) -> int:
        return sum(len(d["html"]) for d in self.docs)

    def warm(self, spark) -> None:
        """The untimed warm-up pass of a set-up, into a fresh directory."""
        self.warms += 1
        self.warm_op(spark, self.path(f"warm-{self.warms}"))

    def prepare(self, spark) -> None:
        """Untimed Spark-side preparation of the input."""

    def before_pass(self, i: int) -> None:
        """Untimed per-pass preparation."""

    def job_layers(self) -> list:
        from caraspark.manifest import SnapshotManifest

        return [(SnapshotManifest, "commit", "manifest.commit")]

    def job_ledger(self, jobs, log, t0, t1) -> tuple[dict, list]:
        """Job-level per-layer metrics, and the intervals they account for."""
        commits = jobs.intervals("manifest.commit")
        parts = {
            "extract_job.stage_s": 0.0,
            "extract_job.extract_write_s": 0.0,
            "extract_job.recount_s": 0.0,
            "extract_job.chunks": 0,
            "extract_job.upsert_rewrite_s": 0.0,
            "extract_job.touched_buckets": 0,
            "manifest.commit_s": sum(b - a for a, b in commits),
            "manifest.commits": len(commits),
        }
        spans = [(s.start_s, s.end_s) for s in log.sqls] + log.jobs + commits
        return parts, spans


class CrawlMix(Workload):
    """``run_job`` over a writer-order table into a zstd snapshot."""

    name = "crawl_mix"
    N, GIANTS, FILES = 4096, 1, 8
    PASS_S = 6

    def make_inputs(self) -> list[dict]:
        self.docs = inputs.crawl_docs(self.seed, self.N, self.GIANTS)
        self.input = self.write(self.docs, "input", self.FILES)
        self.warm_input = self.write(self.docs[:WARM_DOCS], "warm-input", CORES)
        return self.docs

    def warm_op(self, spark, out: str) -> None:
        from jobs.extract_job import run_job

        run_job(spark, self.warm_input, out, units=WARM_UNITS, unit_chunk=WARM_UNITS)

    def run_pass(self, spark, i: int) -> int:
        from jobs.extract_job import run_job

        self.stats = run_job(spark, self.input, self.path(f"out-{i}"))
        return len(self.docs)

    def expected(self, ref: Reference) -> dict:
        return ref.keys(self.docs)

    def observed(self, spark, i: int):
        from jobs.extract_job import read_extracted

        return read_extracted(spark, self.path(f"out-{i}"))

    def stored_bytes(self, i: int) -> int:
        return parquet_bytes(self.path(f"out-{i}", "data"))

    def scan_path(self) -> str:
        return self.input

    def job_layers(self) -> list:
        import jobs.extract_job as ej

        return super().job_layers() + [
            (ej, "stage_input", "extract_job.stage"),
            (ej, "chunk_input", "extract_job.chunk"),
        ]

    def job_ledger(self, jobs, log, t0, t1):
        """Tiles the pass: stage, then per chunk [chunk read .. write end]
        as extract+write, [write end .. commit] as the re-count, and the
        commit itself."""
        parts, _ = super().job_ledger(jobs, log, t0, t1)
        stage = jobs.intervals("extract_job.stage")
        writes = sorted(s.end_s for s in log.sqls if _insert_with_udf(s))
        tiles = list(stage)
        for (c0, _), (m0, m1) in zip(jobs.intervals("extract_job.chunk"),
                                     jobs.intervals("manifest.commit")):
            w = min((e for e in writes if c0 <= e <= m0), default=m0)
            parts["extract_job.extract_write_s"] += w - c0
            parts["extract_job.recount_s"] += m0 - w
            tiles += [(c0, w), (w, m0), (m0, m1)]
        parts["extract_job.stage_s"] = sum(b - a for a, b in stage)
        parts["extract_job.chunks"] = self.stats["chunks"]
        return parts, tiles


class HtmlRecrawl(Workload):
    """``upsert_recrawl`` of an HTML-only batch into a fresh copy of a base
    snapshot: half the batch re-fetches base urls, half is new."""

    name = "html_recrawl"
    BASE, BATCH = 1024, 512
    PASS_S = 4

    def make_inputs(self) -> list[dict]:
        self.base_docs = inputs.crawl_docs(self.seed, self.BASE, 0)
        self.docs = inputs.html_recrawl_docs(self.seed, self.base_docs, self.BATCH)
        self.base_input = self.write(self.base_docs, "base-input", 4)
        self.batch = self.write(self.docs, "batch", 2)
        self.warm_input = self.write(self.docs[:WARM_DOCS], "warm-input", CORES)
        return self.base_docs + self.docs

    def warm_op(self, spark, out: str) -> None:
        from jobs.extract_job import upsert_recrawl

        upsert_recrawl(spark, out, spark.read.parquet(self.warm_input), units=WARM_UNITS)

    def prepare(self, spark) -> None:
        from jobs.extract_job import run_job

        # one chunk: the same 64-bucket gen=0 layout as the default chunking
        run_job(spark, self.base_input, self.path("base"), unit_chunk=64)

    def before_pass(self, i: int) -> None:
        shutil.copytree(self.path("base"), self.path(f"out-{i}"))

    def run_pass(self, spark, i: int) -> int:
        from jobs.extract_job import upsert_recrawl

        self.stats = upsert_recrawl(
            spark, self.path(f"out-{i}"), spark.read.parquet(self.batch)
        )
        return len(self.docs)

    def expected(self, ref: Reference) -> dict:
        return {**ref.keys(self.base_docs), **ref.keys(self.docs)}

    def observed(self, spark, i: int):
        from jobs.extract_job import read_extracted

        return read_extracted(spark, self.path(f"out-{i}"))

    def stored_bytes(self, i: int) -> int:
        data = self.path(f"out-{i}", "data")
        return sum(parquet_bytes(os.path.join(data, g))
                   for g in os.listdir(data) if g != "gen=0")

    def scan_path(self) -> str:
        return self.batch

    def job_ledger(self, jobs, log, t0, t1):
        parts, spans = super().job_ledger(jobs, log, t0, t1)
        parts["extract_job.upsert_rewrite_s"] = (t1 - t0) - parts["manifest.commit_s"]
        parts["extract_job.touched_buckets"] = len(self.stats["touched_buckets"])
        return parts, spans


class GiantSkew(Workload):
    """``extract(salt="giants", nbytes_col="nbytes")`` over the size-layout
    table into a parquet sink."""

    name = "giant_skew"
    N, GIANTS, FILES = 2048, 8, 4

    def make_inputs(self) -> list[dict]:
        self.docs = inputs.crawl_docs(self.seed, self.N, self.GIANTS)
        self.raw = self.write(self.docs, "raw", self.FILES)
        self.warm_input = self.write(self.docs[:WARM_DOCS], "warm-input", CORES)
        return self.docs

    def _extract(self, df, nbytes_col):
        from caraspark.extract import extract

        return extract(df, salt="giants", nbytes_col=nbytes_col,
                       giant_threshold=inputs.GIANT_THRESHOLD)

    def warm_op(self, spark, out: str) -> None:
        self._extract(spark.read.parquet(self.warm_input), None).write.parquet(out)

    def prepare(self, spark) -> None:
        from caraspark.corpus import write_size_layout

        write_size_layout(spark.read.parquet(self.raw), self.path("sized"))

    def run_pass(self, spark, i: int) -> int:
        df = spark.read.parquet(self.path("sized"))
        self._extract(df, "nbytes").write.parquet(self.path(f"out-{i}"))
        return len(self.docs)

    def expected(self, ref: Reference) -> dict:
        return ref.keys(self.docs)

    def observed(self, spark, i: int):
        return spark.read.parquet(self.path(f"out-{i}"))

    def stored_bytes(self, i: int) -> int:
        return parquet_bytes(self.path(f"out-{i}"))

    def scan_path(self) -> str:
        return self.path("sized")


def parquet_bytes(path: str) -> int:
    """Bytes of the parquet files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


WORKLOADS = {w.name: w for w in (CrawlMix, HtmlRecrawl, GiantSkew)}
