"""The benchmark workloads.

Each workload writes its seeded inputs when it is built, runs one *pass*
through the package the way its spark-submit job calls it (input to a
complete written result), checks the written result, and, in the traced
run only, runs probes that split the pass by layer. Probes submit Spark
jobs of their own, so they never run in the untraced run.

Why these two (the reasons are also in BENCHMARK.json):

* ``extract``   many-file interleaved corpus through extract_spans: the
                north-star docs/s, with the layout kernel and the final
                window doing most of the work and the skew salt off. Its
                traced run replays the same generator's corpus through the
                other interleaved paths: once as one fat single-row-group
                file, where the job's rule turns the salted repartition
                (plans.skew) on, and through jobs/structure.py's pass
                (operators.structure), light and heavy-tailed.
* ``near_dup``  flat docs with planted duplicates through the curate job's
                stages 1-2 (exact dedup, MinHash-LSH, connected components):
                no extract, structure or layout work. The one-file input
                also takes minhash_signatures' under-parallel scan spread.

The skew and structure paths are not timed workloads of their own: on a
4-core host a timed run takes 35-45 s, most of it JVM start and the cold
pass, so each added workload costs a comparison of two commits (ten or
more runs of each) about a quarter of an hour, and a heavy-tailed
structure pass swings by a third from run to run.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from pdftableextractor_spark.kernels.layout import pdf_layout_kernel
from pdftableextractor_spark.operators import dedup, structure
from pdftableextractor_spark.operators.extract import (
    explode_spans,
    extract_frames,
    extract_spans,
)
from pdftableextractor_spark.plans.skew import salted_repartition
from pdftableextractor_spark.sources.tables import read_path, write_table

import checks
import gen
from spans import Tracer

MB = 1e6


def noop_write(df) -> None:
    """Run a frame to completion without writing anything (probes only)."""
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    n_docs = 0
    min_passes = 3  # timed passes, even when --seconds ends first

    def __init__(self, work: str, seed: int, scale: float):
        os.makedirs(work, exist_ok=True)
        self.work = work
        self.inp = f"{work}/input"
        self.out = f"{work}/output"
        self.outputs = [self.out]  # directories one pass writes
        self.probe_attempts = self.probe_failures = 0

    def run_pass(self, spark, tr) -> None:
        raise NotImplementedError

    def prepare_check(self) -> None:
        """Compute the expected output (after the cold pass, so the oracle's
        time stays out of setup_s)."""

    def check(self) -> tuple[bool, float, dict]:
        raise NotImplementedError

    def probe(self, spark, tr: Tracer, pass_spans: list[dict], facts: dict) -> dict:
        return {}

    # ---- probes shared by every workload ---------------------------------

    def probe_tables(self, spark, tr: Tracer) -> dict:
        """Scan cost of the input, and write cost of the pass's result: it
        is read back, held in memory, then written again."""
        scan = probe_scan(spark, tr, self.inp, "probe.tables.scan")
        write_s = 0.0
        for i, path in enumerate(self.outputs):
            with tr.span("probe.materialize"):
                mat = read_path(spark, path).localCheckpoint(eager=True)
            with tr.span("probe.tables.write") as w:
                write_table(mat, f"{self.work}/probe_write/{i}", mode="overwrite")
            write_s += Tracer.wall(w)
        return {
            "tables.scan_s": Tracer.wall(scan),
            "tables.scan_tasks": float(
                max((s["numTasks"] for s in scan["stages"].values()), default=0)
            ),
            # on-disk bytes: the status store's inputBytes undercounts
            # parquet scans here
            "tables.input_mb": checks.dir_bytes(self.inp) / MB,
            "tables.write_s": write_s,
            "tables.write_mb": sum(checks.dir_bytes(p) for p in self.outputs) / MB,
        }


def probe_scan(spark, tr: Tracer, path: str, name: str) -> dict:
    with tr.span(name) as scan:
        noop_write(read_path(spark, path))
    return scan


def salt_rule(spark, docs) -> bool:
    """jobs/extract.py --salt auto: salt when the input has fewer files than
    half the cores."""
    n_files = len(docs.inputFiles())
    return n_files < max(2, spark.sparkContext.defaultParallelism // 2)


# --------------------------------------------------------------------------
# interleaved-corpus workloads
# --------------------------------------------------------------------------


def layout_probe(docs: list[dict], repeats: int = 3) -> dict:
    """Time ``pdf_layout_kernel`` in-process on the corpus's pdf payloads
    (outside any Spark plan); the median of ``repeats`` runs."""
    rows = [
        (d["doc_id"], s["offset"], s["text"])
        for d in docs
        for s in d["spans"]
        if s["kind"] == "pdf"
    ]
    if not rows:
        return {"layout.kernel_s": 0.0, "layout.pages": 0.0,
                "layout.pages_per_s": 0.0, "layout.rows_out": 0.0}
    batch = pd.DataFrame(
        {
            "doc_id": pd.Series([r[0] for r in rows], dtype="string"),
            "offset": np.array([r[1] for r in rows], dtype="int32"),
            "text": pd.Series([r[2] for r in rows], dtype="string"),
        }
    )
    times, rows_out = [], 0
    for _ in range(repeats):
        t = time.perf_counter()
        rows_out = sum(len(o) for o in pdf_layout_kernel(iter([batch])))
        times.append(time.perf_counter() - t)
    kernel_s = statistics.median(times)
    return {
        "layout.kernel_s": kernel_s,
        "layout.pages": float(len(rows)),
        "layout.pages_per_s": len(rows) / kernel_s,
        "layout.rows_out": float(rows_out),
    }


class Interleaved(Workload):
    docs_per_file = 25

    def __init__(self, work, seed, scale):
        super().__init__(work, seed, scale)
        self.seed, self.scale = seed, scale
        self.n_docs = max(5, round(self.base_docs * scale))
        self.docs = gen.interleaved(self.inp, self.n_docs, seed, self.docs_per_file)
        self.shares = gen.interleaved_shares(self.docs)


class Extract(Interleaved):
    name = "extract"
    base_docs = 400

    def run_pass(self, spark, tr) -> None:
        # jobs/extract.py with --salt auto
        with tr.span("tables.read_path"):
            docs = read_path(spark, self.inp)
        with tr.span("skew.salt_rule"):
            self.salted = salt_rule(spark, docs)
        with tr.span("extract.extract_spans"):
            out = extract_spans(docs, salt=self.salted)
        with tr.span("tables.write_table"):
            write_table(out, self.out, mode="overwrite")

    def prepare_check(self) -> None:
        self.expected = checks.expected_spans(self.docs)

    def check(self):
        return checks.check_extract(self.out, self.expected)

    def probe(self, spark, tr, pass_spans, facts):
        m = self.probe_tables(spark, tr)
        with tr.span("probe.extract.explode") as ex:
            noop_write(explode_spans(read_path(spark, self.inp)))
        explode_s = max(0.0, Tracer.wall(ex) - m["tables.scan_s"])  # less the scan
        m.update(layout_probe(self.docs))
        m.update(self.probe_onefile(spark, tr))
        sm, checked, failed = probe_structure(spark, tr, self.work, self.seed, self.scale)
        m.update(sm)
        self.probe_attempts += checked
        self.probe_failures += failed
        action = next(s for s in pass_spans if s["name"] == "tables.write_table")
        tot = Tracer.totals(pass_spans)
        m.update(
            {
                "extract.explode_s": explode_s,
                "extract.spans_s": max(
                    0.0,
                    Tracer.wall(action) - m["tables.write_s"]
                    - m["tables.scan_s"] - explode_s,
                ),
                "extract.spans_out": float(facts["spans_out"]),
                "extract.jobs": float(tot["jobs"]),
                "extract.shuffle_mb": tot["shuffleWriteBytes"] / MB,
                "extract.task_skew": tot["task_skew"],
            }
        )
        return m

    def probe_onefile(self, spark, tr) -> dict:
        """The same pass on the corpus rewritten as one fat file with one
        row group: the scan gets one task and the salt rule turns the salted
        repartition on. Its output is checked like a pass."""
        fat, out = f"{self.work}/onefile", f"{self.work}/onefile_out"
        gen.one_fat_file(self.inp, fat)
        scan = probe_scan(spark, tr, fat, "probe.skew.onefile_scan")
        with tr.span("probe.skew.onefile_salt") as salt:
            noop_write(salted_repartition(
                explode_spans(read_path(spark, fat)), "doc_id", "offset"
            ))
        with tr.span("probe.skew.onefile_pass") as p:
            docs = read_path(spark, fat)
            salted = salt_rule(spark, docs)
            write_table(extract_spans(docs, salt=salted), out, mode="overwrite")
        self.probe_attempts += 1
        self.probe_failures += not checks.check_extract(out, self.expected)[0]
        return {
            "skew.salted": float(salted),
            "skew.shuffle_mb": tr.totals([salt])["shuffleWriteBytes"] / MB,
            "skew.scan_task_max_s": max(
                (st.get("task_ms_max", 0.0) for st in scan["stages"].values()),
                default=0.0,
            ) / 1000.0,
            "skew.onefile_pass_s": Tracer.wall(p),
        }


class Structure(Interleaved):
    """jobs/structure.py's pass (without --stage), replayed in the extract
    workload's traced run on the same generator's corpus: ``heavy=False``
    drops the heavy-tailed docs, ``heavy=True`` keeps its one heavy doc."""

    base_docs = 100
    heavy_base_docs = 98  # one heavy doc (index 7): 1 doc in 97

    def __init__(self, work, seed, scale, heavy):
        if heavy:
            self.base_docs = self.heavy_base_docs
        super().__init__(work, seed, scale)
        if not heavy:
            self.docs = gen.drop_heavy(self.inp, self.docs)
            self.n_docs = len(self.docs)

    def run_pass(self, spark, tr) -> None:
        with tr.span("tables.read_path"):
            docs = read_path(spark, self.inp)
        with tr.span("extract.extract_frames"):
            frames = extract_frames(docs)
        with tr.span("structure.salt_rule"):
            stats = docs.select(F.size("spans").alias("n")).agg(
                F.max("n").alias("mx"),
                F.expr("percentile_approx(n, 0.5)").alias("md"),
            ).collect()[0]
            self.salt = 8 if stats["mx"] > 20 * max(stats["md"] or 1, 1) else 1
        with tr.span("structure.unified_data_points"):
            unified = structure.unified_data_points(frames, commentary_salt=self.salt)
        with tr.span("tables.write_table"):
            write_table(unified, self.out, mode="overwrite")
        self.frames = frames

    def prepare_check(self) -> None:
        self.expected = checks.StructureOracle(self.docs)

    def check(self):
        return checks.check_structure(self.out, self.expected)


def probe_structure(spark, tr: Tracer, work: str, seed: int, scale: float) -> tuple[dict, int, int]:
    """Structure-layer metrics: a warm-up and a traced pass over the light
    corpus, its points and commentary halves run alone, then one pass over
    the heavy-tailed corpus, whose heavy doc puts the commentary pairs in
    single-task stages. Returns (metrics, passes checked, passes failed)."""
    light = Structure(f"{work}/structure", seed, scale, heavy=False)
    with tr.span("probe.structure.warmup"):
        light.run_pass(spark, tr)
    with tr.span("probe.structure.pass") as sp:
        light.run_pass(spark, tr)
    light.prepare_check()
    ok, _, facts = light.check()
    failed = int(not ok)
    fr = light.frames
    with tr.span("probe.structure.points") as ps:
        # the first half of unified_data_points, through public operators
        pts = structure.dedup_first_wins(
            structure.all_data_points(
                structure.table_points(fr["cells"]),
                structure.kv_points(fr["kvs"]),
                structure.text_fact_points(
                    fr["lines"].select("doc_id", F.col("line_no").alias("offset"), "text")
                ),
                structure.footnote_points(fr["footnotes"]),
            )
        )
        w = Window.partitionBy("doc_id").orderBy("src_rank", "offset", "seq", "field", "value")
        pts = pts.withColumn("point_id", (F.row_number().over(w) - 1).cast("int"))
        noop_write(pts)
    with tr.span("probe.structure.commentary") as pc:
        noop_write(
            structure.lexical_commentary(
                pts.select("doc_id", "point_id", "field", "value"),
                fr["lines"],
                salt=light.salt,
            )
        )
    spans = tr.subtree(sp)[1:]
    frames_span = next(s for s in spans if s["name"] == "extract.extract_frames")
    ext = Tracer.totals([frames_span])
    rest = Tracer.totals([s for s in spans if s is not frames_span])

    heavy = Structure(f"{work}/heavy", seed, scale, heavy=True)
    with tr.span("probe.structure.heavy_pass") as hp:
        heavy.run_pass(spark, tr)
    heavy.prepare_check()
    ok, _, heavy_facts = heavy.check()
    failed += not ok
    return {
        "extract.frames_s": Tracer.wall(frames_span),
        "extract.frames_jobs": float(ext["jobs"]),
        "structure.pass_s": Tracer.wall(sp),
        "structure.points_s": Tracer.wall(ps),
        "structure.commentary_s": max(0.0, Tracer.wall(pc) - Tracer.wall(ps)),
        "structure.commentary_pairs": float(facts["commentary_pairs"]),
        "structure.points_out": float(facts["points_out"]),
        "structure.jobs": float(rest["jobs"]),
        "structure.spill_mb": rest["diskBytesSpilled"] / MB,
        "structure.task_skew": rest["task_skew"],
        "structure.heavy_pass_s": Tracer.wall(hp),
        "structure.heavy_pair_share": heavy_facts["heavy_pair_share"],
    }, 2, failed


# --------------------------------------------------------------------------
# flat near-dup corpus
# --------------------------------------------------------------------------


class NearDup(Workload):
    name = "near_dup"
    base_docs = 2000

    def __init__(self, work, seed, scale):
        super().__init__(work, seed, scale)
        self.n_docs = max(50, round(self.base_docs * scale))
        self.docs, self.planted, self.shares = gen.near_dup_docs(self.n_docs, seed)
        gen.write_flat(self.inp, self.docs)
        self.outputs = [f"{self.out}/survivors", f"{self.out}/pairs"]

    def run_pass(self, spark, tr) -> None:
        # jobs/curate.py stages 1-2 (cluster mode), then the survivors and
        # the pair list are written
        with tr.span("tables.read_path"):
            docs = read_path(spark, self.inp).withColumn(
                "doc_id", F.col("doc_id").cast("string")
            )
            docs.count()
        with tr.span("dedup.exact_dedup"):
            reps = dedup.exact_dedup(docs).select("doc_id")
            docs1 = docs.join(reps, "doc_id", "left_semi").localCheckpoint()
            docs1.count()
        with tr.span("dedup.minhash_near_dups"):
            pairs = dedup.minhash_near_dups(docs1, n=3, threshold=gen.THRESHOLD)
        with tr.span("dedup.connected_components"):
            losers = (
                dedup.connected_components(pairs)
                .filter(F.col("node") != F.col("component"))
                .select(F.col("node").alias("doc_id"))
            )
            docs2 = docs1.join(losers, "doc_id", "left_anti").localCheckpoint()
            docs2.count()
        with tr.span("tables.write_table"):
            write_table(docs2, self.outputs[0], mode="overwrite")
            write_table(pairs, self.outputs[1], mode="overwrite")
        self.docs1 = docs1

    def prepare_check(self) -> None:
        self.expected = checks.NearDupOracle(self.docs, self.planted)

    def check(self):
        return checks.check_near_dup(self.out, self.expected)

    def probe(self, spark, tr, pass_spans, facts):
        m = self.probe_tables(spark, tr)
        with tr.span("probe.dedup.candidates"):
            bands = dedup.band_rows_from_sigs(
                dedup.minhash_signatures(self.docs1, "text", n=3)
            )
            a = bands.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_hash")
            b = bands.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_hash")
            candidates = (
                a.join(b, ["band_idx", "band_hash"])
                .filter(F.col("doc_a") < F.col("doc_b"))
                .select("doc_a", "doc_b")
                .distinct()
                .count()
            )
        spans = {s["name"]: s for s in pass_spans}
        stage_names = (
            "dedup.exact_dedup", "dedup.minhash_near_dups", "dedup.connected_components"
        )
        tot = Tracer.totals([spans[n] for n in stage_names])
        m.update(
            {
                "dedup.exact_s": Tracer.wall(spans["dedup.exact_dedup"]),
                "dedup.minhash_s": Tracer.wall(spans["dedup.minhash_near_dups"]),
                "dedup.components_s": Tracer.wall(spans["dedup.connected_components"]),
                "dedup.candidate_pairs": float(candidates),
                "dedup.pairs_out": float(facts["pairs_out"]),
                "dedup.verify_yield": facts["pairs_out"] / candidates if candidates else 0.0,
                "dedup.jobs": float(tot["jobs"]),
                "dedup.shuffle_mb": tot["shuffleWriteBytes"] / MB,
            }
        )
        return m


WORKLOADS = {w.name: w for w in (Extract, NearDup)}
