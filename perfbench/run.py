#!/usr/bin/env python3
"""Repository benchmark: declared queries, and the block-indexing and corpus ETL jobs.

Run one workload::

    python3 perfbench/run.py --workload dq_suite --seed 1 --seconds 5 --trace 0

Compare two sets of runs (directories of the run records this script
writes under ``.perfbench/runs/``)::

    python3 perfbench/run.py --compare RUNS_PARENT RUNS_CHANGE

One Python process drives the engine in-process through one ``get_spark``
session on at most four local cores.  Each workload is a closed loop with
one client: a call starts when the previous one has returned.  A run:

1. builds its inputs from ``--seed`` (untimed) and the DuckDB oracle's
   expected results (untimed, outside set-up);
2. sets up once in a new JVM (JVM launch, session, view registration
   and a first action; ``session.cold_setup_s`` in a traced run), then
   fifteen more times in that JVM (``setup_s``, the median: session,
   views and a first action);
3. runs one cold pass over the workload's calls (``first_pass_s``, what a
   fresh process pays for a job);
4. runs whole passes until ``--seconds`` have gone by, and at least two,
   and reports call latency and throughput over them.

Only calls into the program's public functions are timed; every result is
checked outside the timed region, and a failed or wrong call counts in
``failed``.  With ``--trace 1`` the measured passes are traced instead
and the per-layer metrics are reported (see README.md); spans go to
``.perfbench/traces/``.  The last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
for _p in (str(ROOT), str(HERE)):
    if _p not in sys.path:
        sys.path.insert(0, _p)

import datagen  # noqa: E402
from spans import (  # noqa: E402
    NullTracer,
    Tracer,
    catalyst_phases,
    peak_rss_mb,
    stage_metrics,
    storage_usage,
    udf_python_s,
)

SPEC = ROOT / "BENCHMARK.json"
STATE = ROOT / ".perfbench"
# Set-ups in the JVM the cold set-up launched; their median is setup_s.
# They get faster for the first eight to ten as the JIT compiles, then
# level off, so the median of fifteen falls where they have levelled off.
SETUP_REPEATS = 15
# Whole passes measured at least, right after the cold pass.  Passes keep
# getting faster for several more as the JIT compiles, but over five
# etl_jobs seeds one call spread between runs by 0.14-0.31 at the second
# to fourth pass and by 0.06-0.37 at the sixth to ninth: the host's load,
# not the warm-up, sets that spread.
MEASURED_PASSES = 2
CORES = min(4, os.cpu_count() or 1)
# Curation settings of the gated op_curate entry; the DuckDB mirror
# (curate.curate_duck_sql) is called with the same values.
CURATE_LANGS, CURATE_MIN_QUALITY_BP, CURATE_NEAR_DUP = ("en",), 2000, 0.2


@dataclass
class CallRecord:
    name: str
    elapsed: float
    items: int
    ok: bool


def _timed(records: list[CallRecord], names: tuple[str, ...] | None) -> list[CallRecord]:
    """The calls that count in a metric: correct ones, of the named kinds."""
    return [r for r in records if r.ok and (names is None or r.name in names)]


def oracle_hashes(data_dir: Path, names: list[str]) -> dict[str, str]:
    """Canonical hash of each entry's DuckDB ``oracle_sql()`` result."""
    import __spark_entry__ as entry
    from tests.oracle import canonical_hash, duck_connect, run_duck

    sqls = entry.oracle_sql()
    con = duck_connect(str(data_dir))
    try:
        return {n: canonical_hash(*run_duck(con, sqls[n])) for n in names}
    finally:
        con.close()


def _duck_hash(sql: str, views: dict[str, str]) -> tuple[str, int]:
    """(canonical hash, row count) of ``sql`` in DuckDB over parquet views."""
    import duckdb

    from tests.oracle import canonical_hash, run_duck

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for view, path in views.items():
            con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{path}')")
        rows, cols = run_duck(con, sql)
        return canonical_hash(rows, cols), len(rows)
    finally:
        con.close()


def _dir_bytes_files(path: Path, since: float = 0.0) -> tuple[int, int]:
    """(total bytes under ``path``, files modified at or after ``since``)."""
    total = fresh = 0
    for f in path.rglob("*"):
        if f.is_file():
            st = f.stat()
            total += st.st_size
            fresh += st.st_mtime >= since
    return total, fresh


# Declared queries left out of dq_suite, with the reason.  A query goes
# here only for a defect of the program that the benchmark cannot fix and
# that makes its result disagree with its oracle on some seeds; it comes
# back once the program is fixed.
LEFT_OUT = {
    # ROUND(double, 2) of l_extendedprice * (1 - l_discount) * (1 + l_tax):
    # Spark rounds half-up on the decimal value, DuckDB rounds the binary
    # double, so they disagree when the exact product ends in 5 at the
    # third decimal (seed 1742956402: 34702.9 * 0.95 = 32967.755 gives
    # Spark 32967.76, DuckDB 32967.75).
    "dq03": "Spark and DuckDB round decimal ties of a double differently",
}


class DqSuite:
    """The declared queries but ``LEFT_OUT``, in a seed-shuffled order,
    each collected."""

    name = "dq_suite"
    # Every query counts in latency and, as one item, in throughput.
    latency_calls = items_calls = None

    def prepare(self, work: Path, seed: int, tiny: bool) -> None:
        import __spark_entry__ as entry
        from etl_rust_spark.queries import DECLARED

        self.data = work / "tables"
        datagen.write_tables(self.data, seed, 0.001 if tiny else 0.01)
        runners = entry.queries()
        self.runners = {n: runners[n] for n in DECLARED if n not in LEFT_OUT}
        self.order = sorted(self.runners)
        random.Random(seed).shuffle(self.order)
        self.expected = oracle_hashes(self.data, self.order)

    def setup(self, spark) -> None:
        from etl_rust_spark.catalog import register_views

        register_views(spark, str(self.data))

    def pass_calls(self) -> list[str]:
        return self.order

    def call(self, spark, name: str, call_id: int, tracer, parent) -> CallRecord:
        from pyspark.serializers import BatchedSerializer, CPickleSerializer
        from pyspark.sql.classic.dataframe import _load_from_socket
        from pyspark.traceback_utils import SCCallSiteSync

        from tests.oracle import canonical_hash

        sc = spark.sparkContext
        build_group, exec_group = f"c{call_id}.build", f"c{call_id}.exec"
        sc.setJobGroup(build_group, name)
        t0 = time.perf_counter()
        with tracer.span("build", call_id, parent):
            df = self.runners[name](spark, str(self.data))
        t1 = time.perf_counter()
        sc.setJobGroup(exec_group, name)
        t2 = time.perf_counter()
        if tracer.enabled:
            # collect() split at the execute/fetch boundary: the JVM runs
            # the job inside collectToPython, Python then reads the rows.
            with tracer.span("execute", call_id, parent):
                with SCCallSiteSync(sc):
                    sock = df._jdf.collectToPython()
            t_exec = time.perf_counter()
            with tracer.span("fetch", call_id, parent):
                rows = list(
                    _load_from_socket(sock, BatchedSerializer(CPickleSerializer()))
                )
        else:
            rows = df.collect()
        t3 = time.perf_counter()
        ok = canonical_hash([tuple(r) for r in rows], df.columns) == self.expected[name]
        if tracer.enabled:
            from etl_rust_spark.plans.audit import audit

            tracer.add("queries.build_s", t1 - t0)
            tracer.add("fetch.s", t3 - t_exec)
            tracer.add("fetch.rows", len(rows))
            tracer.add_all(catalyst_phases(df))
            rep = audit(df)
            tracer.add("plan.scans", len(rep.scans))
            tracer.add("plan.exchanges", rep.num_exchanges)
            tracer.add("plan.python_evals", rep.python_evals)
            tracer.add("queries.build_jobs", len(sc.statusTracker().getJobIdsForGroup(build_group)))
            tracer.add_all(stage_metrics(spark, [build_group, exec_group]))
            tracer.entry_times[name].append((t1 - t0) + (t3 - t2))
        return CallRecord(name, (t1 - t0) + (t3 - t2), 1, ok)

    def finish(self, spark, records: list[CallRecord]) -> None:
        pass


class IndexJob:
    """Consecutive resumed ``run_range`` calls into one fresh sink."""

    name = "run_range"

    def prepare(self, work: Path, seed: int, tiny: bool) -> None:
        from etl_rust_spark.etl.writer import DEFAULT_BUCKET_SIZE
        from etl_rust_spark.sources.chain import SyntheticChain

        self.chain = SyntheticChain()
        self.sink = work / "sink"
        # One sink bucket per call (DEFAULT_BUCKET_SIZE blocks), starting on
        # a seed-chosen bucket: an unaligned start would make each call
        # re-derive a seed-dependent share of the previous bucket, and the
        # records per call would then vary with the seed.
        self.blocks_per_call = 20 if tiny else DEFAULT_BUCKET_SIZE
        self.start = DEFAULT_BUCKET_SIZE * (1_000 + seed % 100_000)
        self.end = self.start

    def call(self, spark, call_id: int, tracer, parent) -> CallRecord:
        from etl_rust_spark.etl.pipeline import run_range

        sc = spark.sparkContext
        group = f"c{call_id}.run_range"
        before = _dir_bytes_files(self.sink)[0] if tracer.enabled and self.sink.exists() else 0
        prev_end, self.end = self.end, self.end + self.blocks_per_call
        sc.setJobGroup(group, self.name)
        wall0 = time.time()
        t0 = time.perf_counter()
        with tracer.span("run_range", call_id, parent):
            stats = run_range(spark, self.chain, self.start, self.end, str(self.sink), resume=True)
        t1 = time.perf_counter()
        ok = (stats.start, stats.end) == (prev_end, self.end) and stats.total_records > 0
        if tracer.enabled:
            after, fresh = _dir_bytes_files(self.sink, since=wall0)
            tracer.add("etl.run_range_s", t1 - t0)
            tracer.add("etl.records", stats.total_records)
            tracer.add("etl.sink_bytes", after - before)
            tracer.add("etl.files_written", fresh)
            stages = stage_metrics(spark, [group])
            tracer.add("etl.output_bytes", stages["exec.output_bytes"])
            tracer.add_all(stages)
        return CallRecord(self.name, t1 - t0, stats.total_records, ok)

    def sink_ok(self, spark) -> bool:
        """Sink invariants over everything indexed."""
        from pyspark.sql import functions as F

        spark.sparkContext.setJobGroup("check", "sink invariants")
        sink = str(self.sink)
        b = (
            spark.read.parquet(f"{sink}/blocks")
            .agg(
                F.count("*").alias("n"),
                F.countDistinct("block_index").alias("u"),
                F.min("block_index").alias("lo"),
                F.max("block_index").alias("hi"),
                F.sum("tx_count").alias("tx"),
            )
            .first()
        )
        want = self.end - self.start
        ok = (b.n, b.u, b.lo, b.hi) == (want, want, self.start, self.end - 1)
        ok = ok and spark.read.parquet(f"{sink}/transactions").count() == b.tx
        for table, key in self.chain.entity_keys.items():
            e = spark.read.parquet(f"{sink}/{table}").agg(
                F.count("*").alias("n"), F.countDistinct(key).alias("u")
            ).first()
            ok = ok and e.n == e.u
        return ok


class CorpusJob:
    """``ingest_corpus`` over zstd JSONL shards → ``curate_corpus`` → parquet."""

    name = "ingest_curate"
    n_shards = 4

    def prepare(self, work: Path, seed: int, tiny: bool) -> None:
        import numpy as np
        import pyarrow.parquet as pq

        from etl_rust_spark.operators.curate import curate_duck_sql

        docs = datagen.documents_table(np.random.default_rng(seed), 200 if tiny else 500)
        source = work / "documents.parquet"
        pq.write_table(docs, source)
        self.plain_bytes = datagen.write_corpus_shards(docs, work / "shards", self.n_shards, seed)
        self.shards = str(work / "shards" / "*.jsonl.zst")
        self.ingested = work / "ingested"
        self.curated = work / "curated"
        self.expected_ingest = _duck_hash("SELECT * FROM documents", {"documents": source})[0]
        self.expected_curated = _duck_hash(
            curate_duck_sql(CURATE_LANGS, CURATE_MIN_QUALITY_BP, CURATE_NEAR_DUP),
            {"documents": source},
        )[0]

    def call(self, spark, call_id: int, tracer, parent) -> CallRecord:
        from etl_rust_spark.etl.ingest import ingest_corpus
        from etl_rust_spark.operators.curate import curate_corpus

        sc = spark.sparkContext
        ingest_group, curate_group = f"c{call_id}.ingest", f"c{call_id}.curate"
        sc.setJobGroup(ingest_group, "ingest_corpus")
        t0 = time.perf_counter()
        with tracer.span("ingest", call_id, parent):
            n_docs = ingest_corpus(spark, self.shards, str(self.ingested))
        t1 = time.perf_counter()
        sc.setJobGroup(curate_group, "curate_corpus")
        t2 = time.perf_counter()
        with tracer.span("curate", call_id, parent):
            curate_corpus(
                spark.read.parquet(str(self.ingested)),
                languages=list(CURATE_LANGS),
                min_quality_bp=CURATE_MIN_QUALITY_BP,
                near_dup_threshold=CURATE_NEAR_DUP,
            ).write.mode("overwrite").parquet(str(self.curated))
        t3 = time.perf_counter()
        ingest_hash, _ = _duck_hash("SELECT * FROM t", {"t": f"{self.ingested}/*.parquet"})
        curated_hash, kept = _duck_hash(
            "SELECT doc_id, lang, lang_pred, quality_bp FROM t",
            {"t": f"{self.curated}/*.parquet"},
        )
        ok = ingest_hash == self.expected_ingest and curated_hash == self.expected_curated
        if tracer.enabled:
            tracer.add("ingest.s", t1 - t0)
            tracer.add("ingest.decoded_mb", self.plain_bytes / 1e6)
            tracer.add("curate.s", t3 - t2)
            tracer.add("curate.docs_kept", kept)
            tracer.add_all(stage_metrics(spark, [ingest_group, curate_group]))
        return CallRecord(self.name, (t1 - t0) + (t3 - t2), n_docs, ok)


class EtlJobs:
    """The ETL job mix: each pass indexes the next sink bucket with
    ``run_range``, then ingests and curates the corpus.

    Each end-to-end figure comes from one job: call latency from the
    ``run_range`` calls (time to index one bucket), throughput from the
    corpus runs (documents per second of ingest → curate → write).
    """

    name = "etl_jobs"
    latency_calls = (IndexJob.name,)
    items_calls = (CorpusJob.name,)

    def prepare(self, work: Path, seed: int, tiny: bool) -> None:
        self.jobs = {job.name: job for job in (IndexJob(), CorpusJob())}
        for job in self.jobs.values():
            (work / job.name).mkdir()
            job.prepare(work / job.name, seed, tiny)

    def setup(self, spark) -> None:
        pass

    def pass_calls(self) -> list[str]:
        return list(self.jobs)

    def call(self, spark, name: str, call_id: int, tracer, parent) -> CallRecord:
        return self.jobs[name].call(spark, call_id, tracer, parent)

    def finish(self, spark, records: list[CallRecord]) -> None:
        """A broken sink invariant fails every ``run_range`` call, since
        it cannot be pinned on one."""
        if not self.jobs[IndexJob.name].sink_ok(spark):
            for r in records:
                r.ok = r.ok and r.name != IndexJob.name


WORKLOADS = {w.name: w for w in (DqSuite, EtlJobs)}


def load_spec() -> dict:
    with open(SPEC) as f:
        return json.load(f)


def new_session(work: Path):
    """The engine session, with every scratch path inside ``work`` and
    the repository on the Python workers' path (their kernels import
    ``etl_rust_spark``)."""
    from etl_rust_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_confs={
            "spark.driver.memory": "2g",
            # A fixed heap size: G1 otherwise grows the heap by its own
            # timing, and the JVM's peak RSS would follow that, not the work.
            "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.executorEnv.PYTHONPATH": str(ROOT),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_engine(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        # The gateway JVM exits when its stdin closes.
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def _per_layer(
    spec: dict, tracer: Tracer, spark, passes: int, overhead: float, cold_setup: float
) -> dict:
    t = tracer.totals
    out = {name: v / passes for name, v in t.items()}
    out["session.cold_setup_s"] = cold_setup
    out["exec.cpu_share"] = t["exec.cpu_s"] / t["exec.run_s"] if t["exec.run_s"] else 0.0
    out["etl.write_amplification"] = (
        t["etl.output_bytes"] / t["etl.sink_bytes"] if t["etl.sink_bytes"] > 0 else 0.0
    )
    out["ingest.decoded_mb_per_s"] = (
        t["ingest.decoded_mb"] / t["ingest.s"] if t["ingest.s"] else 0.0
    )
    out["operators.python_s"] = udf_python_s(spark) / passes
    out.update(tracer.peaks)
    out["trace.overhead_share"] = overhead
    out["trace.spans"] = len(tracer.spans)
    for name, times in tracer.entry_times.items():
        out[f"entry.{name}_s"] = statistics.median(times)
    return {m["name"]: out.get(m["name"], 0.0) for m in spec["per_layer"]}


def _log(t0: float, msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - t0:.1f}s] {msg}", file=sys.stderr, flush=True)


def run(workload: str, seed: int, seconds: float, trace: bool, tiny: bool = False) -> dict:
    started = time.perf_counter()
    spec = load_spec()
    wl = WORKLOADS[workload]()
    work = STATE / "work" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    saved_tmp = os.environ.get("TMPDIR"), tempfile.tempdir
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    spark = None
    try:
        wl.prepare(work, seed, tiny)
        _log(started, "inputs and expected results ready")

        # The first set-up launches the JVM; the others start a new
        # session in it, as a process that runs several jobs would.
        setup_times = []
        for _ in range(1 + SETUP_REPEATS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = new_session(work)
            wl.setup(spark)
            spark.range(1).collect()
            setup_times.append(time.perf_counter() - t0)
        _log(started, "set-up times: " + ", ".join(f"{t:.2f}" for t in setup_times))

        records: list[CallRecord] = []
        next_id = itertools.count()

        def run_pass(tracer, root) -> list[CallRecord]:
            out = []
            for name in wl.pass_calls():
                call_id = next(next_id)
                with tracer.span(name, call_id, root) as span_id:
                    try:
                        rec = wl.call(spark, name, call_id, tracer, span_id)
                    except Exception:
                        traceback.print_exc()
                        rec = CallRecord(name, 0.0, 0, False)
                if not rec.ok:
                    _log(started, f"call {call_id} ({name}) failed or gave a wrong result")
                out.append(rec)
            records.extend(out)
            each = ", ".join(f"{r.name} {r.elapsed:.2f}" for r in out) if len(out) <= 4 else ""
            _log(started, f"pass of {len(out)} calls: {sum(r.elapsed for r in out):.2f} s {each}")
            return out

        untraced = NullTracer()
        first_pass = run_pass(untraced, None)
        tracer = Tracer() if trace else untraced
        measured: list[list[CallRecord]] = []
        # A traced run puts an untraced pass before each traced one and
        # after the last, so the tracing-overhead estimate is not skewed by
        # passes getting faster as the JIT keeps compiling.
        reference: list[list[CallRecord]] = []
        with tracer.span(workload) as root:
            deadline = time.perf_counter() + seconds
            while len(measured) < MEASURED_PASSES or time.perf_counter() < deadline:
                if trace:
                    spark.conf.unset("spark.sql.pyspark.udf.profiler")
                    reference.append(run_pass(untraced, None))
                    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
                measured.append(run_pass(tracer, root))
                if trace:
                    b, n = storage_usage(spark)
                    tracer.peak("storage.cached_bytes_peak", b)
                    tracer.peak("storage.cached_rdds_peak", n)
        if trace:
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
            reference.append(run_pass(untraced, None))
        _log(started, f"measured {len(measured)} passes")
        wl.finish(spark, records)
        failed = sum(not r.ok for r in records)
        calls = [r for p in measured for r in p]
        busy = sum(r.elapsed for r in _timed(calls, None))
        if trace:
            ref = sum(r.elapsed for r in _timed([r for p in reference for r in p], None))
            ref /= len(reference)
            overhead = busy / len(measured) / ref - 1.0 if ref else 0.0
            metrics = _per_layer(spec, tracer, spark, len(measured), overhead, setup_times[0])
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            _write_trace(workload, seed, tracer, metrics)
        else:
            # Failed or wrong calls count only in ``failed``.
            lat = [r.elapsed for r in _timed(calls, wl.latency_calls)] or [0.0]
            thr = _timed(calls, wl.items_calls)
            thr_s = sum(r.elapsed for r in thr)
            metrics = {
                "setup_s": statistics.median(setup_times[1:]),
                "first_pass_s": sum(r.elapsed for r in _timed(first_pass, None)),
                "call_p50_s": statistics.median(lat),
                "call_p90_s": _quantile(lat, 0.9),
                "items_per_s": sum(r.items for r in thr) / thr_s if thr_s else 0.0,
                "peak_rss_mb": peak_rss_mb(spark),
            }
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            metrics = {name: metrics[name] for name in units}
    finally:
        try:
            stop_engine(spark)
            _log(started, "engine stopped")
        finally:
            shutil.rmtree(work, ignore_errors=True)
            if saved_tmp[0] is None:
                os.environ.pop("TMPDIR", None)
            else:
                os.environ["TMPDIR"] = saved_tmp[0]
            tempfile.tempdir = saved_tmp[1]

    result = {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    _write_record(workload, seed, trace, seconds, result)
    return result


def _write_trace(workload: str, seed: int, tracer: Tracer, metrics: dict) -> None:
    out = STATE / "traces"
    out.mkdir(parents=True, exist_ok=True)
    t0 = min((s["start"] for s in tracer.spans), default=0.0)
    spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in tracer.spans]
    with open(out / f"{workload}-seed{seed}.json", "w") as f:
        json.dump({"workload": workload, "seed": seed, "metrics": metrics, "spans": spans}, f)


def _write_record(workload: str, seed: int, trace: bool, seconds: float, result: dict) -> None:
    out = STATE / "runs"
    out.mkdir(parents=True, exist_ok=True)
    record = {"workload": workload, "seed": seed, "trace": int(trace), "seconds": seconds, "result": result}
    name = f"{workload}-seed{seed}-trace{int(trace)}-{os.getpid()}-{time.time_ns()}.json"
    with open(out / name, "w") as f:
        json.dump(record, f)


def _summary(workload: str, result: dict) -> str:
    rate = result["failed"] / result["attempted"]
    lines = [f"# {workload}: error_rate={rate:.4f} ({result['failed']}/{result['attempted']} calls)"]
    for name, m in result["metrics"].items():
        lines.append(f"#   {name} = {m['value']:.6g} {m['unit']}")
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="sf0.001 tables, short ranges (self-test size)")
    ap.add_argument("--compare", nargs=2, metavar=("PARENT", "CHANGE"),
                    help="compare two directories of run records")
    args = ap.parse_args(argv)
    if args.compare:
        from compare import compare

        print(compare(load_spec(), Path(args.compare[0]), Path(args.compare[1])))
        return 0
    if not args.workload:
        ap.error("--workload is required")
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.tiny)
    print(_summary(args.workload, result))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
