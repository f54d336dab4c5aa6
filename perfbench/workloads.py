"""The benchmark workloads.

Each workload class has ``prepare`` (generate inputs from the seed, load
what the program needs), ``op`` (one operation — a sample, a query pass —
timed end to end with tracing off, its output checked after the timer
stops), ``traced_op`` (the same work with every layer forced and timed on
its own) and ``final_check`` (checks made once per run).

Failed or wrong operations are counted in ``self.failed`` against
``self.attempted``.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
from tracing import Tracer

MODEL_SEED = 20_240_101  # the trained model is the same for every run


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _force(df):
    """Cache ``df`` and materialise it, so the next layer starts from
    its finished output."""
    df = df.cache()
    _noop(df)
    return df


def _digest(values) -> str:
    h = hashlib.sha256()
    for v in values:
        h.update(str(v).encode())
        h.update(b"\n")
    return h.hexdigest()


class Workload:
    unit_name = "op"

    def __init__(self, spark, work: str, seed: int, tracer: Tracer) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.build_s = 0.0  # one-off artefact builds, not part of setup
        self.latencies: list[float] = []  # seconds per operation
        self.rates: list[float] = []  # work units per second

    def reset_measurements(self) -> None:
        self.latencies.clear()
        self.rates.clear()

    def record(self, seconds: float) -> float:
        self.latencies.append(seconds)
        self.rates.append(self.work_units() / seconds)
        return seconds

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def final_check(self) -> None:
        """Checks made once per run, after the timed operations."""


# ------------------------------------------------------------ classify
class ClassifyParquet(Workload):
    """Per-sample classify: MT and NT alignment parquet in, the MT
    alignments of surviving reads out as parquet.

    One operation = ``cli classify`` for one sample, minus loading the
    model (loaded once per session, as a long-lived classify service
    would): read ``_MT.parquet``/``_NT.parquet`` through
    ``read_alignments_parquet`` and the LD/NUMT dimensions, run
    ``pipeline.classify.classify`` with the 128-tree RF, write the
    survivors, count them. Samples alternate between a cohort of two, so
    every run classifies one sample twice and can compare the survivor
    sets.
    """

    subs = (2, 10)  # substitutions per MT alignment (inclusive)
    n_pairs = 2_500
    n_samples = 2
    slice_reads = 200
    unit_name = "sample"

    def prepare(self) -> None:
        from mitoscape_spark.pipeline.ml import load_pipeline_model

        self.ld = gen.ld_table(self.rng)
        self.numts = gen.numt_table(self.rng)
        gen.write_tsv(self.ld.frame, self.path("mitomap.ld"))
        gen.write_tsv(self.numts, self.path("numts.txt"))
        self.samples = []
        self.slices: dict[str, np.ndarray] = {}  # reads checked against truth
        for i in range(self.n_samples):
            s = gen.alignment_sample(self.rng, f"s{i}", self.n_pairs, self.subs, self.ld)
            mt, nt = self.path(f"s{i}_MT.parquet"), self.path(f"s{i}_NT.parquet")
            pq.write_table(s.mt, mt)
            pq.write_table(s.nt, nt)
            self.samples.append((s, mt, nt))
            self.slices[s.name] = self.rng.choice(s.n_reads, self.slice_reads, replace=False)
        path, self.build_s = model_dir(self.spark, os.path.dirname(self.work))
        self.model = load_pipeline_model(path)
        self.next_sample = 0
        self.hashes: dict[str, str] = {}
        self.alignments = sum(s.mt.num_rows + s.nt.num_rows for s, _, _ in self.samples)
        self.alignments /= len(self.samples)

    def work_units(self) -> float:
        """Alignment rows (MT + NT) per operation."""
        return self.alignments

    # -- program calls
    def _read(self, path: str):
        from mitoscape_spark.sources.bam import read_alignments_parquet

        return read_alignments_parquet(self.spark, path)

    def _dimensions(self):
        from mitoscape_spark.cli import load_numts
        from mitoscape_spark.pipeline.ld import ld_scores_table

        return (
            ld_scores_table(self.spark, self.path("mitomap.ld")),
            load_numts(self.spark, self.path("numts.txt")),
        )

    def _take_sample(self):
        i = self.next_sample
        self.next_sample = (i + 1) % len(self.samples)
        sample, mt, nt = self.samples[i]
        return sample, mt, nt, self.path(f"out_{sample.name}.parquet")

    def op(self) -> float:
        from mitoscape_spark.pipeline.classify import classify
        from mitoscape_spark.sources.bam import write_alignments_parquet

        sample, mt_path, nt_path, out = self._take_sample()
        self.attempted += 1
        t0 = time.perf_counter()
        mt, nt = self._read(mt_path), self._read(nt_path)
        ld, numts = self._dimensions()
        result = classify(mt, nt, ld, numts, model=self.model)
        write_alignments_parquet(result.alignments, out)
        n_survivors = result.survivors.count()
        seconds = time.perf_counter() - t0
        self.check_sample(sample, result.features, out, n_survivors)
        result.features.unpersist()
        return self.record(seconds)

    def traced_op(self) -> float:
        """One sample with each stage forced in dependency order (input
        scan, MT features, LD, NT features + NUMT, join + MapQ
        normalisation, RF scoring, write-back), composed from the public
        functions ``classify.build_feature_table`` and
        ``classify.classify`` call."""
        from pyspark.sql import functions as F

        from mitoscape_spark.functions.md_parser import md_variants_udf
        from mitoscape_spark.pipeline.features import (
            mt_features,
            nt_features,
            valid_alignments,
        )
        from mitoscape_spark.pipeline.ld import pairwise_ld_score
        from mitoscape_spark.pipeline.ml import MT_LABEL, max_probability
        from mitoscape_spark.pipeline.normalize import normalize_mapq
        from mitoscape_spark.sources.bam import write_alignments_parquet

        tr = self.tracer
        sample, mt_path, nt_path, out = self._take_sample()
        tr.trace_id = f"{sample.name}-traced"
        self.attempted += 1
        t0 = time.perf_counter()
        with tr.span("classify.sample"):
            with tr.span("sources.read_parquet"):
                mt, nt = _force(self._read(mt_path)), _force(self._read(nt_path))
            with tr.span("pipeline.mt_features"):
                mt_f = _force(mt_features(mt))
            with tr.span("pipeline.ld_score"):
                ld, numts = self._dimensions()
                scored = _force(pairwise_ld_score(mt_f, ld))
            with tr.span("pipeline.nt_features"):
                nt_f = _force(nt_features(nt, numts))
            with tr.span("pipeline.join_normalize"):
                joined = scored.join(nt_f, "Read", "inner").withColumn(
                    "label", F.lit(MT_LABEL)
                )
                features = _force(normalize_mapq(joined))
            with tr.span("pipeline.rf_score"):
                probs = max_probability(self.model.transform(features))
                survivors = _force(
                    probs.where(F.col("MaxProb") >= 0.5)
                    .where(F.col("Prediction") == MT_LABEL)
                    .select("Read")
                )
            with tr.span("pipeline.writeback"):
                alignments = mt.join(
                    survivors, mt["read_name"] == survivors["Read"], "left_semi"
                )
                with tr.span("sources.write_parquet"):
                    write_alignments_parquet(alignments, out)
                n_survivors = survivors.count()
        seconds = time.perf_counter() - t0

        # the MD parse on its own (outside the sample span): the UDF over
        # the valid MT rows, without the per-read aggregation around it
        with tr.span("functions.md_parse"):
            variants = _force(
                valid_alignments(mt).select(
                    md_variants_udf(
                        F.col("md"), F.col("seq"), (F.col("start") - 1).cast("long")
                    ).alias("v")
                )
            )

        # counts, taken after the timed spans from the cached outputs
        md = variants.agg(F.count(F.lit(1)), F.sum(F.size("v"))).first()
        tr.count("functions.md_rows", md[0])
        tr.count("functions.md_variants_emitted", md[1])
        formed, scored_pairs = self.ld_pair_counts(sample)
        tr.count("pipeline.ld_pairs_formed", formed)
        tr.count("pipeline.ld_pairs_scored", scored_pairs)
        tr.count("pipeline.ld_hit_ratio", scored_pairs / formed if formed else 0.0)
        tr.count("pipeline.reads_joined", features.count())
        tr.count("pipeline.survivors", n_survivors)
        tr.count("sources.rows_in", mt.count() + nt.count())
        tr.count("sources.rows_out", _output(out).num_rows)
        self.check_sample(sample, features, out, n_survivors)
        for df in (mt, nt, mt_f, scored, nt_f, features, survivors, variants):
            df.unpersist()
        return seconds

    def ld_pair_counts(self, sample: gen.Sample) -> tuple[int, int]:
        """C(n,2) variant pairs per read over valid MT alignments, and how
        many of them the LD table scores (from the planted truth, which
        ``check_sample`` ties to the program's LD column)."""
        per_read: dict[int, list[str]] = {}
        for a in np.flatnonzero(sample.mt_valid):
            per_read.setdefault(int(sample.mt_read[a]), []).extend(sample.mt_variants[a])
        formed = scored = 0
        for v in per_read.values():
            formed += len(v) * (len(v) - 1) // 2
            for i in range(len(v)):
                for j in range(i + 1, len(v)):
                    key = (v[i], v[j]) if v[i] < v[j] else (v[j], v[i])
                    scored += key in self.ld.scores
        return formed, scored

    # -- output checks
    def check_sample(self, sample: gen.Sample, features, out: str, n_survivors: int) -> None:
        """Feature slice vs truth; the written survivors vs the generated
        alignments of the surviving reads; survivor hash vs the previous
        pass over the same sample."""
        from pyspark.sql import functions as F

        pick = self.slices[sample.name]
        expected = gen.truth_features(sample, self.ld, self.numts, pick)
        names = [f"{sample.name}r{r:07d}" for r in pick.tolist()]
        got = {
            r["Read"]: r.asDict()
            for r in features.where(F.col("Read").isin(names))
            .select("Read", *FEATURE_COLUMNS)
            .collect()
        }
        problem = features_problem(got, expected)
        if problem:
            self.fail(f"{sample.name}: {problem}")

        rows = _output(out).to_pylist()
        survivors = {r["read_name"] for r in rows}
        if len(survivors) != n_survivors:
            self.fail(f"{sample.name}: {len(survivors)} reads written, {n_survivors} survivors counted")
        mask = pc.is_in(sample.mt["read_name"], value_set=pa.array(sorted(survivors), pa.string()))
        if _sorted_rows(rows) != _sorted_rows(sample.mt.filter(mask).to_pylist()):
            self.fail(f"{sample.name}: written alignments differ from the semi-join of survivors")
        digest = _digest(sorted(survivors))
        if self.hashes.setdefault(sample.name, digest) != digest:
            self.fail(f"{sample.name}: survivor hash changed between passes")


INT_FEATURES = ("MTNumAlignments", "MTEditDist", "LD", "NTNumAlignments", "NTEditDist", "NTScore")
FEATURE_COLUMNS = (*INT_FEATURES, "NUMTOverlaps")


def features_problem(got: dict[str, dict], expected) -> str | None:
    """Compare the program's feature rows (Read -> row) with the truth
    frame for the same reads; None when they agree. NUMTOverlaps is a
    rounded float sum, compared to 2e-6; the rest are exact integers."""
    if set(got) != set(expected.index):
        return f"feature table has {len(got)} of the slice's reads, truth has {len(expected)}"
    for read, row in expected.iterrows():
        g = got[read]
        bad = [c for c in INT_FEATURES if int(g[c]) != int(row[c])]
        if abs(g["NUMTOverlaps"] - row["NUMTOverlaps"]) > 2e-6:
            bad.append("NUMTOverlaps")
        if bad:
            return f"read {read} differs from truth in {bad}"
    return None


def _sorted_rows(rows: list[dict]) -> list[tuple]:
    keys = [f.name for f in gen.ALIGNMENT_ARROW]
    return sorted(tuple("" if r[k] is None else r[k] for k in keys) for r in rows)


def _output(out: str) -> pa.Table:
    """The alignments the program wrote, read back with the schema."""
    return pq.read_table(out, schema=gen.ALIGNMENT_ARROW)


def model_dir(spark, root: str) -> tuple[str, float]:
    """The RF model, trained once per checkout (like the reference's
    shipped model artefact) from a fixed labelled set and reused by every
    later run. Returns (path, seconds spent training here)."""
    from mitoscape_spark.pipeline.ml import train_rf

    final = os.path.join(root, f"model-{MODEL_SEED}")
    if os.path.isdir(final):
        return final, 0.0
    t0 = time.perf_counter()
    training = gen.training_features(np.random.default_rng(MODEL_SEED))
    df = spark.createDataFrame(training).repartition(4, "Read").sortWithinPartitions("Read")
    staging = f"{final}.{os.getpid()}"
    train_rf(df, model_path=staging, seed=42)
    try:
        os.replace(staging, final)
    except OSError:  # another run finished training first
        if not os.path.isdir(final):
            raise
        shutil.rmtree(staging)
    return final, time.perf_counter() - t0


# ----------------------------------------------------------- query mix
class QueryMix(Workload):
    """Q01-Q15 through ``concurrency.run_concurrent`` with nproc queries
    in flight; one operation = one query, one pass = all fifteen."""

    sf = 0.02
    unit_name = "query"

    def prepare(self) -> None:
        from mitoscape_spark.queries.relational import ORACLE, QUERIES

        self.sf_dir = self.path("sf")
        os.makedirs(self.sf_dir)
        for name, table in gen.tpch_tables(self.rng, self.sf).items():
            pq.write_table(table, os.path.join(self.sf_dir, f"{name}.parquet"))
        self.queries, self.oracle = QUERIES, ORACLE
        self.inflight = len(os.sched_getaffinity(0))

    def work_units(self) -> float:
        return len(self.queries)

    def _pass(self, job_group: str | None = None) -> tuple[float, list[float], list[float]]:
        """One pass of all queries; returns (wall seconds, per-query
        latency counted from submission to the pool, per-query wait from
        submission to thunk start)."""
        from mitoscape_spark.concurrency import run_concurrent

        started: dict[str, float] = {}

        def thunk(name, fn):
            def build():
                started[name] = time.perf_counter()
                if job_group is not None:
                    # pool threads: tag their jobs with the pass span
                    self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", job_group)
                return fn(self.spark, self.sf_dir)

            return build

        errors: list[str] = []
        t0 = time.perf_counter()
        timings = run_concurrent(
            self.spark,
            {n: thunk(n, f) for n, f in self.queries.items()},
            max_inflight=self.inflight,
            on_error=lambda n, e: errors.append(f"{n}: {e}"),
        )
        wall = time.perf_counter() - t0
        self.attempted += len(timings)
        for e in errors:
            self.fail(e)
        latencies = [started[n] - t0 + s for n, s in timings.items() if s >= 0]
        return wall, latencies, [started[n] - t0 for n in started]

    def op(self) -> float:
        wall, latencies, _ = self._pass()
        self.latencies += latencies
        self.rates.append(len(latencies) / wall)
        return wall

    def traced_op(self) -> float:
        """Each query alone (serially), then one traced concurrent pass;
        returns the pass's seconds, comparable with an untraced pass."""
        tr = self.tracer
        tr.trace_id = "queries-alone"
        with tr.span("queries.alone"):
            for name, fn in self.queries.items():
                self.attempted += 1
                with tr.span(f"queries.{name}"):
                    _noop(fn(self.spark, self.sf_dir))
        tr.trace_id = "concurrent-pass"
        with tr.span("concurrency.pass"):
            wall, _, waits = self._pass(f"span-{tr.spans[-1].span_id}")
        tr.count("concurrency.queue_wait_p50_s", statistics.median(waits))
        return wall

    def final_check(self) -> None:
        """Every query's rows hash-match its DuckDB oracle (run once,
        outside the timed passes, nproc comparisons at a time)."""
        from mitoscape_spark.verify import compare_query, duckdb_connection

        def compare(item):
            name, fn = item
            # one DuckDB cursor per thread: connections are not thread-safe
            with con.cursor() as cur:
                try:
                    res = compare_query(self.spark, cur, name, fn, self.oracle[name], self.sf_dir)
                except Exception as exc:  # noqa: BLE001 — a failed query is a counted failure
                    return f"{name}: {exc}"
            if not res.ok:
                return f"{name}: spark {res.spark_rows} rows vs oracle {res.oracle_rows}, hash match {res.hash_match}"
            return None

        con = duckdb_connection(self.sf_dir)
        try:
            with ThreadPoolExecutor(max_workers=self.inflight) as pool:
                problems = list(pool.map(compare, self.queries.items()))
        finally:
            con.close()
        self.attempted += len(problems)
        for p in problems:
            if p:
                self.fail(p)


WORKLOADS = {"classify_parquet": ClassifyParquet, "query_mix": QueryMix}
