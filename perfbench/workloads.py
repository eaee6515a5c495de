"""The benchmark workloads and the layer probes of a traced run.

Every run builds one ``local[4]`` session and sets it up (session
build, package shipping, a cold warm-up pass), measures for
``seconds``, and checks the outputs it produced.  A traced run has the
Spark event log on from the start and then adds the per-layer probes:
cumulative plan prefixes, a route probe, event-log task metrics,
in-process single-threaded passes over every input page, and the ten
headline operators.  Each layer is timed from outside, around calls
into its public functions.
"""

from __future__ import annotations

import gc
import random
import shutil
import statistics
import time
import uuid
from contextlib import contextmanager
from pathlib import Path

import duckdb
import numpy as np
import pyarrow.parquet as pq

from swift_readability_spark.core import grabber as grabber_mod
from swift_readability_spark.core.readability import parse_with_timings
from swift_readability_spark.extract import DEFAULT_BASE_URL, extract_document
from swift_readability_spark.operators import registry
from swift_readability_spark.pipeline.io import read_documents
from swift_readability_spark.pipeline.job import (
    DEFAULT_TASK_OVERSUBSCRIPTION,
    lineage_from_output,
    plan_extraction,
    read_committed,
    route_for_extraction,
    run_extraction,
)
from swift_readability_spark.pipeline.session import (
    ARROW_MAX_RECORDS_PER_BATCH,
    build_session,
    ensure_package_on_workers,
)
from swift_readability_spark.spans.codec import element_to_spans, spans_to_html
from swift_readability_spark.spans.compare import compare_spans

from perfbench import inputs
from perfbench.sparklog import PHASE_PROPERTY, PeakRss, event_log_conf, phase_task_metrics
from perfbench.tracing import Tracer
from scripts.validate_oracles import _norm_duck_type, _norm_spark_type, rows_signature

CORES = 4
MASTER = f"local[{CORES}]"
WORKLOADS = ("synth_skewed", "interleaved")

# tables the traced run's operator probe reads (50 documents)
PROBE_SF = 0.001

# bench.py's headline list, in its order
HEADLINE_QUERIES = (
    "extract_metadata",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "top3_orders_per_customer",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "simhash",
    "ann_bruteforce_topk",
    "lang_id",
    "dedup_exact",
)

# Input sizes.  "full" is what the benchmark measures; "tiny" is the
# smoke-test size.  A run pays a JVM launch and a cold warm-up pass
# (7-9 s and 15-25 s on a 4-core host), so the measured inputs are kept
# small enough for a whole run to stay near a minute.  A pass is short
# (3-5 s) so that one run takes enough passes for a median.  The ten
# headline operators are not a timed workload: a pass over them is
# per-query scheduling overhead more than data (as long at sf0.004 as
# at sf0.01), and its run-to-run spread on a shared 4-core host exceeded
# the 25% bound; traced runs time each of them.
SIZES = {
    "full": {
        "synth_docs": 800,
        "mega_every": 200,
        "interleaved_docs": 3000,
        "sample_docs": 60,
        "warm_passes": 1,
        "extract_samples": 3,
    },
    "tiny": {
        "synth_docs": 40,
        "mega_every": 20,
        "interleaved_docs": 60,
        "sample_docs": 12,
        "warm_passes": 0,
        "extract_samples": 1,
    },
}

# parse_with_timings stage label -> per-layer metric
STAGES = {
    "parseDocument": "core.dom.parse_html_ms",
    "readerable": "core.readerable_ms",
    "preprocess": "core.preprocess_ms",
    "metadata": "core.metadata_ms",
    "grabArticle": "core.grabber.grab_article_ms",
    "postprocess": "core.postprocess_ms",
}


class Result:
    """Metric values plus the outcome of the correctness checks."""

    def __init__(self):
        self.metrics: dict[str, tuple[float, str, int]] = {}
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def put(self, name: str, value: float, unit: str, samples: int = 1) -> None:
        self.metrics[name] = (float(value), unit, samples)

    def check(self, attempted: int, failed: int, what: str) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.notes.append(f"check failed: {what} ({failed} of {attempted})")


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def duck_view(con, name: str, path: Path) -> None:
    quoted = str(path).replace("'", "''")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{quoted}')")


def load_pages(pages: Path):
    """Pages in a fixed order: generator order for a single file,
    ``doc_id`` order for a directory Spark wrote."""
    table = pq.read_table(pages)
    return table.sort_by("doc_id") if pages.is_dir() else table


class Bench:
    """One benchmark run: owns the session, its scratch directories and
    the tracer."""

    def __init__(self, root: Path, workload: str, seed: int, seconds: float,
                 trace: bool, scale: str):
        if workload not in WORKLOADS:
            raise ValueError(f"unknown workload {workload!r}")
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = trace
        self.size = SIZES[scale]
        self.base = root / ".perfbench"
        self.run_id = f"{workload}-s{seed}-{uuid.uuid4().hex[:8]}"
        self.scratch = self.base / "runs" / self.run_id
        self.tracer = Tracer(self.run_id, enabled=trace)
        self.result = Result()
        self.spark = None
        self._dirs = 0

    def run(self) -> Result:
        try:
            self.run_pipeline()
        finally:
            self.stop_session()
            if self.traced:
                self.tracer.dump(self.base / "traces" / f"{self.run_id}.json")
            shutil.rmtree(self.scratch, ignore_errors=True)
        return self.result

    # -- session and files -----------------------------------------------
    def start_session(self, event_log: bool = False) -> None:
        conf = {
            "spark.local.dir": str(self.scratch / "spark-local"),
            # a fixed initial heap: heap growth would otherwise keep the
            # first minute of passes warming up
            "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={self.scratch / 'tmp'}",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            conf.update(event_log_conf(self.scratch / "eventlog"))
        self.spark = build_session(
            app_name=f"perfbench-{self.workload}",
            master=MASTER,
            shuffle_partitions=CORES,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        ensure_package_on_workers(self.spark)

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def fresh_dir(self, tag: str) -> str:
        self._dirs += 1
        return str(self.scratch / f"{tag}-{self._dirs}")

    def cache(self, key: str, build) -> Path:
        return inputs.cached(self.base / "cache", f"{key}-s{self.seed}", build)

    def operator_tables(self, sf: float) -> Path:
        return self.cache(f"tables-sf{sf}", lambda d: inputs.write_operator_tables(d, sf, self.seed))

    def synth_pages(self) -> Path:
        n, every = self.size["synth_docs"], self.size["mega_every"]
        return self.cache(
            f"synth-n{n}-m{every}",
            lambda d: inputs.write_synth_pages(d, n, self.seed, every),
        ) / "pages.parquet"

    def interleaved_pages(self, sf_dir: Path) -> Path:
        """The program's interleaved pages over ``sf_dir/documents``,
        written by this run's session on every run, cached or not: the
        job warms the session, so skipping it on a cache hit would move
        that cost into the warm-up that ``setup_s`` times."""
        pages = self.scratch / "pages.parquet"
        inputs.write_pages(self.spark, sf_dir, pages, CORES)
        return pages

    def sample(self, fn, min_samples: int) -> list[float]:
        """Repeat ``fn`` (returning seconds) for ``self.seconds``, at
        least ``min_samples`` times."""
        samples: list[float] = []
        end = time.perf_counter() + self.seconds
        while len(samples) < min_samples or time.perf_counter() < end:
            samples.append(fn())
        return samples

    # -- the extraction workloads -----------------------------------------
    def extraction_wall(self, pages: Path, phase: str | None = None) -> tuple[float, str, str]:
        """One ``run_extraction`` over ``pages`` into fresh output and
        lineage paths: read, extract, parquet write, lineage commit."""
        out, lin = self.fresh_dir("out"), self.fresh_dir("lineage")
        sc = self.spark.sparkContext
        if phase:
            sc.setLocalProperty(PHASE_PROPERTY, phase)
        try:
            with self.tracer.span("pipeline.job.run_extraction", phase=phase):
                wall = timed(
                    lambda: run_extraction(
                        self.spark,
                        read_documents(self.spark, str(pages)),
                        out,
                        lin,
                        base_url=DEFAULT_BASE_URL,
                        n_partitions=CORES,
                    )
                )
        finally:
            if phase:
                sc.setLocalProperty(PHASE_PROPERTY, None)
        return wall, out, lin

    def run_pipeline(self) -> None:
        r = self.result
        session_s = timed(lambda: self.start_session(event_log=self.traced))
        t0 = time.perf_counter()
        if self.workload == "synth_skewed":
            pages = self.synth_pages()
        else:
            sf_dir = self.cache(
                f"docs-n{self.size['interleaved_docs']}",
                lambda d: inputs.write_documents(d, self.size["interleaved_docs"], self.seed),
            )
            pages = self.interleaved_pages(sf_dir)
        r.put("setup.inputs_s", time.perf_counter() - t0, "s")
        n_docs = pq.read_table(pages, columns=["doc_id"]).num_rows
        last = {}

        def one(phase=None):
            wall, last["out"], last["lin"] = self.extraction_wall(pages, phase)
            return wall

        with self.peak_rss():
            cold_s = timed(lambda: self.extraction_wall(pages))
            # warm passes until pass times level off, outside setup_s
            for _ in range(self.size["warm_passes"]):
                self.extraction_wall(pages)
            # a traced run reports per-layer metrics only: its two
            # samples, tagged for the event log, feed the task metrics,
            # pipeline.parallel_eff and the correctness check
            walls = (
                [one(f"traced-{i}") for i in range(2)]
                if self.traced
                else self.sample(one, self.size["extract_samples"])
            )
        wall = statistics.median(walls)
        r.put("wall_s", wall, "s", len(walls))
        r.put("docs_per_s", n_docs / wall, "1/s", len(walls))
        r.put("setup_s", session_s + cold_s, "s")
        r.put("setup.session_s", session_s, "s")
        r.put("setup.cold_pass_s", cold_s, "s")
        r.notes.append("wall samples (s): " + " ".join(f"{w:.3f}" for w in walls))

        def check():
            self.check_committed(n_docs, last["out"], last["lin"])
            if self.workload == "synth_skewed":
                self.check_synth(pages, n_docs, last["out"], last["lin"])
            else:
                self.check_interleaved(sf_dir, last["out"], last["lin"])

        r.put("check_s", timed(check), "s")
        if self.traced:
            self.layer_probes(pages, walls, last["out"], self.operator_tables(PROBE_SF))

    @contextmanager
    def peak_rss(self):
        """Peak resident memory of the process tree while the block
        runs, sampled in traced runs only: the sampler's /proc scans
        would slow the passes an untraced run times."""
        if not self.traced:
            yield
            return
        with PeakRss() as rss:
            yield
        self.result.put("peak_rss_mb", rss.peak_mb, "MB")

    def check_committed(self, n_docs: int, out: str, lin: str) -> None:
        """Lineage doc counts and ``read_committed`` both account for
        every input document exactly once, with no error rows."""
        from pyspark.sql import functions as F

        lineage = self.spark.read.parquet(lin).agg(F.sum("doc_count")).collect()[0][0]
        self.result.check(1, int(lineage != n_docs), f"lineage doc_count {lineage} != {n_docs}")
        stats = (
            read_committed(self.spark, out, lin)
            .agg(F.count("*").alias("n"), F.count("error").alias("errors"))
            .collect()[0]
        )
        self.result.check(1, int(stats["n"] != n_docs), f"read_committed {stats['n']} != {n_docs}")
        self.result.check(n_docs, int(stats["errors"]), "rows with a non-null error")

    def check_synth(self, pages: Path, n_docs: int, out: str, lin: str) -> None:
        """Spark output equals an in-process ``extract_document`` on the
        first ``sample_docs`` pages plus every mega-doc."""
        from pyspark.sql import functions as F

        k, every = self.size["sample_docs"], self.size["mega_every"]
        picked = list(range(k)) + [i for i in range(k, n_docs) if i % every == every - 1]
        sample = load_pages(pages).take(picked).to_pylist()
        got = {
            row["doc_id"]: row
            for row in read_committed(self.spark, out, lin)
            .filter(F.col("doc_id").isin([row["doc_id"] for row in sample]))
            .select("doc_id", "spans", "title", "byline", "excerpt", "text_length")
            .toArrow()
            .to_pylist()
        }
        bad = 0
        for row in sample:
            want = extract_document(row["doc_id"], row["spans"], DEFAULT_BASE_URL)
            have = got.get(row["doc_id"])
            if (
                have is None
                or compare_spans(have["spans"] or [], want["spans"])
                or any(have[c] != want[c] for c in ("title", "byline", "excerpt", "text_length"))
            ):
                bad += 1
        self.result.check(len(sample), bad, "sample docs differing from in-process extraction")

    def check_interleaved(self, sf_dir: Path, out: str, lin: str) -> None:
        """Every committed row's metadata and span skeleton equal the
        closed-form DuckDB oracles of ``extract_metadata`` and
        ``extract_spans_stats`` over the generated ``documents``."""
        from pyspark.sql import functions as F

        cols = ("title", "byline", "excerpt", "text_length", "readerable")
        got = {
            int(row["doc_id"]): row
            for row in read_committed(self.spark, out, lin)
            .select(
                "doc_id",
                *cols,
                F.size("spans").alias("n_spans"),
                F.expr("size(filter(spans, s -> s.kind = 'media'))").alias("n_media_spans"),
                F.col("spans")[0]["kind"].alias("first_kind"),
            )
            .toArrow()
            .to_pylist()
        }
        reg = registry()
        con = duckdb.connect()
        try:
            duck_view(con, "documents", sf_dir / "documents.parquet")
            want = {}
            for query, fields in (
                ("extract_metadata", cols),
                ("extract_spans_stats", ("n_spans", "n_media_spans", "first_kind")),
            ):
                rel = con.sql(reg[query][1])
                for row in rel.fetchall():
                    rec = dict(zip(rel.columns, row))
                    want.setdefault(rec["doc_id"], {}).update((f, rec[f]) for f in fields)
        finally:
            con.close()
        bad = sum(
            doc_id not in got or any(got[doc_id][f] != v for f, v in fields.items())
            for doc_id, fields in want.items()
        )
        self.result.check(len(want), bad, "committed rows differing from the DuckDB oracles")

    def query_pass(self, sf_dir: Path) -> dict[str, float]:
        """Each headline query once into a noop sink; seconds per query."""
        reg = registry()
        times = {}
        for name in HEADLINE_QUERIES:
            with self.tracer.span(f"operators.{name}"):
                times[name] = timed(lambda: noop(reg[name][0](self.spark, str(sf_dir))))
        return times

    def collect(self, sf_dir: Path, names) -> list[tuple]:
        """Collect each named query once, for the oracle check.  A query
        that raises is kept as a failed check."""
        reg = registry()
        collected = []
        for name in names:
            try:
                df = reg[name][0](self.spark, str(sf_dir))
                collected.append((name, df.schema, df.toArrow().to_pylist()))
            except Exception as exc:  # noqa: BLE001 - reported as a failed check
                self.result.notes.append(f"query {name} raised {exc!r}"[:300])
                collected.append((name, None, None))
        return collected

    def check_queries(self, sf_dir: Path, collected: list[tuple]) -> None:
        """Each query's column names, column type classes and rows
        signature equal its DuckDB oracle's, as ``validate_oracles``
        compares them."""
        reg = registry()
        con = duckdb.connect()
        try:
            for table in ("documents", "customer", "orders", "lineitem", "embeddings"):
                duck_view(con, table, sf_dir / f"{table}.parquet")
            for name, schema, rows in collected:
                ok = schema is not None
                if ok:
                    rel = con.sql(reg[name][1])
                    duck_types = {c: _norm_duck_type(str(t)) for c, t in zip(rel.columns, rel.types)}
                    duck = [dict(zip(rel.columns, row)) for row in rel.fetchall()]
                    cols = sorted(schema.names)
                    ok = (
                        cols == sorted(rel.columns)
                        and all(_norm_spark_type(f.dataType) == duck_types[f.name] for f in schema)
                        and rows_signature(cols, rows) == rows_signature(cols, duck)
                    )
                self.result.check(1, int(not ok), f"query {name} vs its oracle")
        finally:
            con.close()

    # -- traced-run layer probes -----------------------------------------
    def layer_probes(self, pages: Path, walls: list[float], out: str,
                     operators_sf_dir: Path) -> None:
        """Per-layer metrics over the extraction input ``pages``.

        ``walls`` are the run's ``run_extraction`` walls over ``pages``,
        tagged ``traced-<i>`` in the event log, and ``out`` the output
        of the last.  The ten headline operators are collected once
        over the ``operators_sf_dir`` tables for their oracle check,
        then timed once each."""
        r = self.result
        n_docs = pq.read_table(pages, columns=["doc_id"]).num_rows
        walls_ms = self.spark.read.parquet(out).select("wall_ms").toArrow().column(0).to_numpy()
        r.put("extract.doc_ms_p50", float(np.percentile(walls_ms, 50)), "ms", len(walls_ms))
        r.put("extract.doc_ms_p99", float(np.percentile(walls_ms, 99)), "ms", len(walls_ms))
        for name, seconds in self.prefix_round(pages).items():
            r.put(name, seconds, "s")
        self.route_probe(pages, n_docs)
        increments = r.metrics["pipeline.job.write_s"][0] + r.metrics["pipeline.job.commit_s"][0]
        r.notes.append(
            f"prefix increments (write + commit) sum to {increments:.3f} s = "
            f"{increments / statistics.median(walls):.3f} x the run_extraction wall"
        )
        collected = self.collect(operators_sf_dir, HEADLINE_QUERIES)
        for name, seconds in self.query_pass(operators_sf_dir).items():
            r.put(f"operators.{name}_s", seconds, "s")
        self.stop_session()
        units = {"_mb": "MB", "skew": "ratio"}
        for name, value in phase_task_metrics(
            self.scratch / "eventlog", f"traced-{len(walls) - 1}"
        ).items():
            r.put(name, value, next((u for k, u in units.items() if name.endswith(k)), "s"))
        self.check_queries(operators_sf_dir, collected)
        docs_per_s_1 = self.in_process_probe(pages)
        r.put("extract.docs_per_s_1thread", docs_per_s_1, "1/s")
        r.put(
            "pipeline.parallel_eff",
            n_docs / statistics.median(walls) / (CORES * docs_per_s_1),
            "ratio",
        )

    def prefix_round(self, pages: Path) -> dict[str, float]:
        """Each plan prefix as its own job, cumulative up to ``write``;
        ``write`` plus ``commit`` is what ``run_extraction`` runs after
        its resume lookup."""
        from pyspark.sql import functions as F

        spark = self.spark

        def docs():
            return read_documents(spark, str(pages))

        def identity(batches):
            yield from batches

        def crossing():
            routed = route_for_extraction(docs(), CORES)
            noop(routed.mapInArrow(identity, routed.schema))

        run_id = "r" + uuid.uuid4().hex[:11]
        out, lin = self.fresh_dir("prefix-out"), self.fresh_dir("prefix-lineage")
        started = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime())
        steps = {
            "pipeline.io.scan_s": lambda: noop(docs()),
            "pipeline.job.route_s": lambda: noop(route_for_extraction(docs(), CORES)),
            "pipeline.job.arrow_crossing_s": crossing,
            "pipeline.job.extract_s": lambda: noop(
                plan_extraction(docs(), DEFAULT_BASE_URL, run_id, CORES)
            ),
            "pipeline.job.write_s": lambda: plan_extraction(docs(), DEFAULT_BASE_URL, run_id, CORES)
            .write.mode("append")
            .partitionBy("run_id")
            .parquet(out),
            "pipeline.job.commit_s": lambda: lineage_from_output(
                spark.read.parquet(out).filter(F.col("run_id") == run_id), started, CORES
            )
            .write.mode("append")
            .parquet(lin),
            "pipeline.job.read_committed_s": lambda: noop(read_committed(spark, out, lin)),
            "pipeline.job.resume_noop_s": lambda: run_extraction(
                spark, docs(), out, lin, n_partitions=CORES
            ),
        }
        seconds = {}
        for name, step in steps.items():
            with self.tracer.span(name):
                seconds[name] = timed(step)
        return seconds

    def route_probe(self, pages: Path, n_docs: int) -> None:
        """Docs per physical extraction task after the skew-aware route."""
        from pyspark.sql import functions as F

        with self.tracer.span("route.probe"):
            per_task = [
                row[1]
                for row in route_for_extraction(read_documents(self.spark, str(pages)), CORES)
                .groupBy(F.spark_partition_id())
                .count()
                .collect()
            ]
        physical = CORES * DEFAULT_TASK_OVERSUBSCRIPTION
        self.result.put("route.task_docs_max_over_mean", max(per_task) * physical / n_docs, "ratio")

    def in_process_probe(self, pages: Path) -> float:
        """Single-threaded passes over every input page, the documents
        ``docs_per_s`` covers, under the GC settings of the job's Arrow
        kernel (gen-0 threshold raised, one collection per Arrow batch of
        extractions).

        After an untimed warm-up pass (it grows the heap to the largest
        documents' size), every document runs twice, in a seeded random
        order: as one ``extract_document`` call, whose times give the
        returned docs/s, and split at the codec and parse-stage
        boundaries with a tracer span around every layer call, whose
        times against the whole calls' give ``trace.overhead_frac``.
        Pairing the two runs of each document keeps the host's speed
        drift over the pass out of that ratio.  Grab attempts are
        counted by a wrapper around ``grab_article`` in the split runs."""
        rows = load_pages(pages).to_pylist()
        n = len(rows)
        step = ARROW_MAX_RECORDS_PER_BATCH
        coin = random.Random(self.seed)
        acc = {"whole": 0.0, "split": 0.0, "html": 0.0, "e2s": 0.0}
        stage_ms = dict.fromkeys(STAGES.values(), 0.0)
        attempts: list[int] = []
        thresholds = gc.get_threshold()
        gc.collect()
        gc.set_threshold(200_000, 50, 25)
        try:
            for i in range(0, n, step):
                for row in rows[i : i + step]:
                    extract_document(row["doc_id"], row["spans"] or [], DEFAULT_BASE_URL)
                gc.collect()
            # each document runs twice, so half a batch per collection
            for i in range(0, n, step // 2):
                for row in rows[i : i + step // 2]:
                    if coin.random() < 0.5:
                        acc["whole"] += self.whole_document(row)
                        acc["split"] += self.split_document(row, acc, stage_ms, attempts)
                    else:
                        acc["split"] += self.split_document(row, acc, stage_ms, attempts)
                        acc["whole"] += self.whole_document(row)
                gc.collect()
        finally:
            gc.set_threshold(*thresholds)
        r = self.result
        for name, total in stage_ms.items():
            r.put(name, total / n, "ms", n)
        r.put("spans.codec.spans_to_html_ms", acc["html"] * 1000 / n, "ms", n)
        r.put("spans.codec.element_to_spans_ms", acc["e2s"] * 1000 / n, "ms", n)
        # per-doc time outside every named layer: parse's own glue
        # (options, result assembly, text_content) and the loop itself
        r.put(
            "extract.unattributed_ms",
            ((acc["split"] - acc["html"] - acc["e2s"]) * 1000 - sum(stage_ms.values())) / n,
            "ms",
            n,
        )
        r.put("core.grabber.attempts_per_doc", statistics.fmean(attempts), "count", len(attempts))
        r.put("trace.overhead_frac", acc["split"] / acc["whole"] - 1.0, "ratio", n)
        return n / acc["whole"]

    def whole_document(self, row: dict) -> float:
        with self.tracer.span("extract.extract_document"):
            return timed(
                lambda: extract_document(row["doc_id"], row["spans"] or [], DEFAULT_BASE_URL)
            )

    def split_document(self, row: dict, acc: dict, stage_ms: dict, attempts: list) -> float:
        """One document split at the layer boundaries: adds the codec
        seconds to ``acc``, the parse-stage ms to ``stage_ms`` and the
        grab attempts to ``attempts``; returns the document's seconds."""
        original = grabber_mod.Grabber.grab_article

        def counting(grabber):
            try:
                return original(grabber)
            finally:
                attempts.append(len(grabber.attempts) + 1)

        grabber_mod.Grabber.grab_article = counting
        try:
            t0 = time.perf_counter()
            with self.tracer.span("extract.document"):
                with self.tracer.span("spans.codec.spans_to_html"):
                    t1 = time.perf_counter()
                    html = spans_to_html(row["spans"] or [])
                    acc["html"] += time.perf_counter() - t1
                with self.tracer.span("core.parse_with_timings") as attrs:
                    result, stages = parse_with_timings(html, DEFAULT_BASE_URL)
                    attrs["stages_ms"] = stages
                if result is not None:
                    with self.tracer.span("spans.codec.element_to_spans"):
                        t1 = time.perf_counter()
                        element_to_spans(result.article, inner=True, visibility_filter=False)
                        acc["e2s"] += time.perf_counter() - t1
            seconds = time.perf_counter() - t0
        finally:
            grabber_mod.Grabber.grab_article = original
        for label, ms in stages.items():
            if label in STAGES:
                stage_ms[STAGES[label]] += ms
        return seconds
