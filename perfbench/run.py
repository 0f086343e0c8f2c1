"""End-to-end and per-layer benchmark of the insurance analytics engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process runs one workload with one
closed-loop client on ``local[N]`` (N = usable cores, shuffle partitions
also N): set-up, one cold first run, then warm runs back to back for
``--seconds`` (at least ``MIN_WARM``). Outputs are checked after the
timed runs. The
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. See
``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import datetime as dt  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

import pandas as pd  # noqa: E402

from spans import Tracer, duration  # noqa: E402 — perfbench/ is sys.path[0]

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
TRACE_DIR = os.path.join(ROOT, ".perfbench_traces")
PACKAGE = "datawarehouse_vehicule_insurance_spark"

#: input sizes: ``standard`` is what the benchmark measures, ``tiny`` is
#: for the smoke test. ``tables`` names the copy of the engine's test
#: tables under ``perfbench/data`` the queries and ``curate`` read (sf0.01:
#: 60k ``lineitem`` rows, 500 documents); ``n_clients`` sizes the dirty
#: insurance sources (~5.2 raw rows per client). See perfbench/README.md,
#: "Scope", for how the ETL size was chosen.
SIZES = {
    "standard": {"tables": "sf0.01", "n_clients": 10000},
    "tiny": {"tables": "sf0.001", "n_clients": 300},
}

#: the silver rules compare dates with "today"; pinning it keeps the
#: outputs and ``rules.keep_ratio`` independent of the calendar
REF_DATE = dt.date(2025, 6, 30)
ZONES = ("bronze", "silver", "gold")
#: fewest warm runs ``wall_s`` is the median of
MIN_WARM = 2

#: the ``curate_and_queries`` workload: one ``curate`` composition
#: (``CURATE_KW``), then ROADMAP item 2's percentile operator over the
#: relational tables. The time budget of a measurement round allows no more
#: (perfbench/README.md, "Scope").
QUERIES = ("percentile_prices",)
#: stage settings of the ``curate`` unit: language and length gates,
#: Gopher rules (a pandas UDF stage; thresholds relaxed for the synthetic
#: corpus, so later stages still see documents), the stage-boundary plan
#: cut, then pairwise near-dup with a keep-by order (added once the
#: session is up). Line dedup, span dedup/trim, the source cap, LM, DSIR
#: and transitive near-dup grouping are left out to fit the time budget
#: (perfbench/README.md, "Scope").
CURATE_KW = dict(
    lang_allow=("en", "es", "fr", "de", "und"),
    min_tokens=5,
    transitive=False,
    gopher_rules=dict(
        min_words=5, min_mean_word_len=1.0, max_mean_word_len=50.0,
        min_alpha_word_ratio=0.0, min_stopword_hits=0,
        max_dup_line_ratio=1.0, max_dup_line_char_ratio=1.0,
    ),
)
SPARK_STATS = (
    "jobs", "stages", "stages_skipped", "tasks", "failed_jobs",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "executor_run_s",
)

END_TO_END = {
    "setup_s": "s", "wall_s": "s",
    "rows_per_s": "1/s", "peak_rss_mb": "MB", "output_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s", "setup.warmup_s": "s", "first_run_s": "s",
    "plans.bronze_s": "s", "plans.silver_s": "s", "plans.gold_s": "s",
    "sources.bronze_mb": "MB", "sources.silver_mb": "MB",
    "sources.gold_mb": "MB",
    "rules.rows_in": "rows", "rules.rows_out": "rows",
    "rules.keep_ratio": "ratio", "gold.rows_out": "rows",
    "queries.build_s": "s", "queries.exec_s": "s",
    "queries.build_share": "ratio",
    "curate.enter_s": "s", "curate.sink_s": "s", "curate.exit_s": "s",
    "curate.docs_in": "docs", "curate.docs_out": "docs",
    "curate.keep_ratio": "ratio", "curate.resid_blocks": "count",
    **{f"q.{q}.{m}": u
       for q in QUERIES
       for m, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))},
    **{f"spark.{k}": ("MB" if k.endswith("_mb") else
                      "s" if k.endswith("_s") else "count")
       for k in SPARK_STATS},
    "trace.wall_s": "s", "trace.overhead_s": "s",
}


def _dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    ) / (1024 * 1024)


def _parquet_rows(path: str) -> int:
    """Rows in a parquet file, or in every parquet file under a directory."""
    import pyarrow.parquet as pq

    files = [path] if os.path.isfile(path) else [
        os.path.join(d, f) for d, _, names in os.walk(path) for f in names
        if f.endswith(".parquet")
    ]
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _norm(v):
    """Order-insensitive comparison key of one value, as in the oracle
    parity tests: floats to 9 decimals, NULL as a sentinel."""
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return str(v)


def _same_row(a: tuple, b: tuple) -> bool:
    """Equal values; floats to a relative 1e-9 (the two engines add in a
    different order)."""
    return len(a) == len(b) and all(
        math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
        if isinstance(x, float) and isinstance(y, float) else x == y
        for x, y in zip(a, b)
    )


def _multiset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in idx) for r in rows)


class Workload:
    """One workload: inputs, one run of the engine, and output checks.

    ``run`` executes inside a ``run`` span; the engine calls it makes are
    wrapped in child spans so a traced run can attribute time and Spark
    work to each layer. ``attempted``/``failed`` count units (one query,
    one pipeline table, one curation run)."""

    spark = None  # set once the session is up, after ``prepare``
    tracer = None
    #: whether a run starts Python workers (the warm-up then starts them)
    python_workers = False

    def __init__(self, seed: int, size: dict, tamper: bool):
        self.seed = seed
        self.size = size
        self.tamper = tamper
        self.attempted = 0
        self.failed = 0
        self.input_rows = 0
        self.output_mb = 0.0  # bytes the latest run wrote
        self.problems: list[str] = []

    def prepare(self) -> None:
        """Make the inputs, before Spark starts (not timed)."""
        raise NotImplementedError

    def start(self) -> None:
        """Set-up that needs the session (timed as part of set-up)."""

    def run(self, index: int) -> None:
        raise NotImplementedError

    def after_run(self, index: int) -> None:
        """Book-keeping after a run, outside the timed span."""

    def check(self) -> None:
        raise NotImplementedError

    def layer_metrics(self, run_span: dict) -> dict:
        raise NotImplementedError

    def outputs(self) -> dict:
        """What the runs produced, for the detail line."""
        return {}


class MedallionEtl(Workload):
    """bronze → silver → gold over the seeded dirty insurance CSVs, each
    run into a fresh lake root."""

    def prepare(self) -> None:
        from inputs import medallion_csvs

        self.csv_root = os.path.join(WORK, "csv")
        self.input_rows = medallion_csvs(self.csv_root, self.seed,
                                         self.size["n_clients"])
        self.counts: list[tuple] = []

    def run(self, index: int) -> None:
        from datawarehouse_vehicule_insurance_spark.catalog import Catalog
        from datawarehouse_vehicule_insurance_spark.plans.pipeline import (
            Pipeline,
        )

        self.lake = os.path.join(WORK, f"lake-{index}")
        self.pipe = Pipeline(self.spark, Catalog(root=self.lake),
                             ref_date=REF_DATE)
        with self.tracer.span("plans.bronze", leaf=True):
            self.pipe.run_bronze(self.csv_root)
        with self.tracer.span("plans.silver", leaf=True):
            self.pipe.run_silver()
        with self.tracer.span("plans.gold", leaf=True):
            self.pipe.run_gold()

    def after_run(self, index: int) -> None:
        # Pipeline isolates failures per table: success is read from its
        # results, never from the absence of an exception
        results = self.pipe.results
        bad = {k: v for k, v in results.items() if v != "ok"}
        self.attempted += len(results)
        self.failed += len(bad)
        if bad:
            self.problems.append(f"run {index}: {bad}")
        zones = [os.path.join(self.lake, z) for z in ZONES]
        self.counts.append(tuple(_parquet_rows(z) for z in zones))
        self.zone_mb = dict(zip(ZONES, map(_dir_mb, zones)))
        self.output_mb = sum(self.zone_mb.values())
        if index > 0:
            shutil.rmtree(os.path.join(WORK, f"lake-{index - 1}"))

    def check(self) -> None:
        if len(set(self.counts)) != 1:
            self.problems.append(f"zone row counts differ: {self.counts}")
        got, want = self._client_summary()
        if got.keys() != want.keys() or not all(
            _same_row(got[k], want[k]) for k in got
        ):
            self.problems.append("fact_client_summary differs from DuckDB")

    def _client_summary(self):
        """(gold table, DuckDB re-aggregation of the same run's silver),
        each as {client_id: row}."""
        import duckdb

        silver = os.path.join(self.lake, "silver")

        def t(name):
            return f"read_parquet('{silver}/{name}.parquet/*.parquet')"

        con = duckdb.connect()
        gold = con.sql(
            "SELECT * FROM read_parquet("
            f"'{self.lake}/gold/fact_client_summary.parquet/*.parquet')"
        )
        cols = gold.columns
        want_rel = con.sql(f"""
            WITH pol AS (SELECT * FROM {t('erp_policies')}
                         WHERE client_id IS NOT NULL),
            pa AS (SELECT client_id, count(policy_id) AS total_policies,
                          sum(premium) AS total_premium,
                          sum(CASE WHEN status = 'Activa' THEN 1 ELSE 0 END)
                            AS active_policies
                   FROM pol GROUP BY client_id),
            br AS (SELECT DISTINCT policy_id, client_id FROM pol),
            py AS (SELECT br.client_id, sum(p.amount) AS total_payments,
                          count(p.payment_id) AS num_payments,
                          max(p.payment_date) AS last_payment_date
                   FROM {t('erp_payments')} p JOIN br USING (policy_id)
                   GROUP BY br.client_id),
            cl AS (SELECT br.client_id, sum(c.amount) AS total_claims,
                          count(c.claim_id) AS num_claims
                   FROM {t('erp_claims')} c JOIN br USING (policy_id)
                   GROUP BY br.client_id)
            SELECT s.client_id, total_policies, total_premium,
                   active_policies, total_payments, num_payments,
                   last_payment_date, total_claims, num_claims,
                   total_payments / NULLIF(total_premium, 0)
                     AS payment_to_premium_ratio,
                   total_claims / NULLIF(total_premium, 0) AS claim_ratio,
                   total_payments / NULLIF(num_payments, 0) AS avg_payment,
                   total_claims / NULLIF(num_claims, 0) AS avg_claim
            FROM (SELECT DISTINCT client_id FROM {t('erp_clients')}) s
            LEFT JOIN pa USING (client_id) LEFT JOIN py USING (client_id)
            LEFT JOIN cl USING (client_id)""")

        def keyed(rel):
            names = rel.columns
            out = {}
            for row in rel.fetchall():
                rec = dict(zip(names, row))
                out[rec["client_id"]] = tuple(rec[c] for c in cols)
            return out

        got, want = keyed(gold), keyed(want_rel)
        con.close()
        if self.tamper:
            # one wrong value in one row: the value comparison must catch it
            i = cols.index("total_premium")
            key = next(k for k, row in want.items() if row[i] is not None)
            row = list(want[key])
            row[i] += 1
            want[key] = tuple(row)
        return got, want

    def outputs(self) -> dict:
        return {"zone_rows": self.counts[-1]}

    def layer_metrics(self, run_span: dict) -> dict:
        rows_in, rows_out, gold_rows = self.counts[-1]
        out = {f"sources.{z}_mb": mb for z, mb in self.zone_mb.items()}
        out.update({
            "rules.rows_in": rows_in,
            "rules.rows_out": rows_out,
            "rules.keep_ratio": rows_out / rows_in if rows_in else 0.0,
            "gold.rows_out": gold_rows,
        })
        for child in self.tracer.children(run_span):
            out[f"{child['name']}_s"] = duration(child)
        return out


class CurateAndQueries(Workload):
    """One ``curate`` composition over the engine's test documents, then
    registry queries over the test tables.

    The ``curate`` unit enters a ``curation_run`` (its plan cuts are
    materialized there), writes the survivors to parquet and exits (the
    cuts' blocks are released). Each query is built (``fn(spark, dir)``)
    and then executed by collecting its result to the client as Arrow."""

    python_workers = True  # curate's Gopher and span-trim pandas UDFs

    def prepare(self) -> None:
        from datawarehouse_vehicule_insurance_spark import queries as Q

        self.data_dir = os.path.join(HERE, "data", self.size["tables"])
        self.input_rows = sum(
            _parquet_rows(os.path.join(self.data_dir, f"{t}.parquet"))
            for t in ("lineitem", "documents")
        )
        registry = {**Q.QUERIES, **Q.BENCH_EXTRA}
        oracles = {**Q.ORACLES, **Q.ORACLES_EXTRA}
        self.fns = {n: registry[n] for n in QUERIES}
        self.oracles = {n: oracles[n] for n in QUERIES}
        self.survivors: list[tuple[int, str]] = []
        self.resid_blocks = 0

    def start(self) -> None:
        from pyspark.sql import functions as F

        path = os.path.join(self.data_dir, "documents.parquet")
        self.docs = self.spark.read.parquet(path).select(
            "doc_id", "text", "source")
        self.docs_in = _parquet_rows(path)
        self.curate_kw = dict(CURATE_KW, near_dup_keep_by=F.length("text"))

    def _storage(self) -> dict:
        """{RDD id: cached blocks} of every RDD in executor storage."""
        return {info.id(): info.numCachedPartitions() for info in
                self.spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    def run(self, index: int) -> None:
        from datawarehouse_vehicule_insurance_spark.operators.curate import (
            curation_run,
        )

        self.attempted += 1
        self.stored_before = self._storage()
        self.out_dir = os.path.join(WORK, f"curated-{index}")
        with self.tracer.span("curate"):
            try:
                cm = curation_run(self.docs, **self.curate_kw)
                with self.tracer.span("enter", leaf=True):
                    curated = cm.__enter__()
                try:
                    with self.tracer.span("sink", leaf=True):
                        curated.write.parquet(self.out_dir)
                finally:
                    with self.tracer.span("exit", leaf=True):
                        cm.__exit__(None, None, None)
            except Exception as exc:  # noqa: BLE001 — count, continue
                self.failed += 1
                self.problems.append(f"run {index} curate: {exc!r}"[:500])
                self.out_dir = None
        # blocks of RDDs the curate unit stored and did not release
        self.resid_blocks = sum(n for rdd, n in self._storage().items()
                                if rdd not in self.stored_before)

        results = {}
        for name in QUERIES:
            self.attempted += 1
            with self.tracer.span(f"q.{name}"):
                try:
                    with self.tracer.span("build", leaf=True):
                        df = self.fns[name](self.spark, self.data_dir)
                    with self.tracer.span("exec", leaf=True):
                        table = df.toArrow()
                except Exception as exc:  # noqa: BLE001 — count, continue
                    self.failed += 1
                    self.problems.append(f"run {index} {name}: {exc!r}"[:500])
                    continue
            results[name] = table
        # the first run's results and the latest run's are checked
        if index == 0:
            self.first = results
        self.latest = results

    def after_run(self, index: int) -> None:
        if self.out_dir is None:
            return
        import hashlib

        import pyarrow.parquet as pq

        ids = sorted(pq.read_table(self.out_dir, columns=["doc_id"])
                     .column("doc_id").to_pylist())
        digest = hashlib.sha256(repr(ids).encode()).hexdigest()[:16]
        self.survivors.append((len(ids), digest))
        self.output_mb = _dir_mb(self.out_dir)
        shutil.rmtree(self.out_dir)

    def check(self) -> None:
        import duckdb

        con = duckdb.connect()
        for t in ("lineitem", "documents"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{self.data_dir}/{t}.parquet'")
        for pos, name in enumerate(QUERIES):
            rel = con.sql(self.oracles[name])
            want_cols, want_rows = rel.columns, rel.fetchall()
            if self.tamper and pos == 0:
                want_rows = want_rows[1:] if want_rows else [(None,) * len(
                    want_cols)]
            want = _multiset(want_cols, want_rows)
            for run, results in (("first", self.first),
                                 ("last", self.latest)):
                table = results.get(name)
                if table is None:
                    continue  # already counted as failed
                cols = table.column_names
                rows = [tuple(r[c] for c in cols) for r in table.to_pylist()]
                if sorted(cols) != sorted(want_cols):
                    self.problems.append(f"{name}: columns {cols}")
                elif _multiset(cols, rows) != want:
                    self.problems.append(
                        f"{run} run, {name}: result differs from oracle")
        con.close()
        # the survivors must be the same documents on every run
        if len(set(self.survivors)) != 1 or not self.survivors[0][0]:
            self.problems.append(f"curate survivors: {self.survivors}")

    def outputs(self) -> dict:
        # (survivor count, digest of the sorted survivor doc_ids) per run
        return {"curate_survivors": sorted(set(self.survivors))}

    def layer_metrics(self, run_span: dict) -> dict:
        out = {}
        build = execute = 0.0
        for unit in self.tracer.children(run_span):
            phases = {c["name"]: duration(c)
                      for c in self.tracer.children(unit)}
            prefix = unit["name"]
            if prefix == "curate":
                for phase, took in phases.items():
                    out[f"curate.{phase}_s"] = took
                continue
            out[f"{prefix}.build_s"] = phases.get("build", 0.0)
            out[f"{prefix}.exec_s"] = phases.get("exec", 0.0)
            out[f"{prefix}.jobs"] = self.tracer.spark_totals(unit).get(
                "jobs", 0)
            build += out[f"{prefix}.build_s"]
            execute += out[f"{prefix}.exec_s"]
        docs_out = self.survivors[-1][0] if self.survivors else 0
        out.update({
            "queries.build_s": build,
            "queries.exec_s": execute,
            "queries.build_share": build / (build + execute),
            "curate.docs_in": self.docs_in,
            "curate.docs_out": docs_out,
            "curate.keep_ratio": docs_out / self.docs_in,
            "curate.resid_blocks": self.resid_blocks,
        })
        return out


WORKLOADS = {
    "medallion_etl": MedallionEtl,
    "curate_and_queries": CurateAndQueries,
}


def _peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of the driver JVM."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _plus_one(s: pd.Series) -> pd.Series:
    return s + 1


def _warm_up(spark, python_workers: bool) -> None:
    """Finish lazy set-up before anything is timed: the first Spark job
    pays for class loading and whole-stage codegen start-up, and the first
    pandas UDF for starting the Python workers (one per core) and their
    pandas/Arrow imports."""
    from pyspark.sql import functions as F

    spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).agg(
        F.sum("id")).collect()
    if python_workers:
        cores = spark.sparkContext.defaultParallelism
        spark.range(0, 1000, 1, cores).select(
            F.pandas_udf(_plus_one, "long")("id")).collect()


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers it forked) to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — still running: end it
        proc.kill()
        proc.wait()


def _isolate_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and make the checkout's package importable by the Python
    workers."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = tmp


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # test hooks for perfbench/smoke_test.py
    ap.add_argument("--size", choices=sorted(SIZES), default="standard")
    ap.add_argument("--tamper", action="store_true",
                    help="corrupt one expected result (must flip correct)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    _isolate_environment()
    sys.path[:0] = [ROOT]
    # importing the engine is set-up; generating the inputs is not
    for module in ("queries", "plans.pipeline", "sources.generator"):
        importlib.import_module(f"{PACKAGE}.{module}")
    from datawarehouse_vehicule_insurance_spark import get_spark

    phases = {}
    t = time.perf_counter()
    bench = WORKLOADS[args.workload](args.seed, SIZES[args.size],
                                     args.tamper)
    bench.prepare()
    phases["inputs_s"] = time.perf_counter() - t

    cores = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    try:
        phases["get_spark_s"] = time.perf_counter() - t
        t = time.perf_counter()
        _warm_up(spark, bench.python_workers)
        phases["warmup_s"] = time.perf_counter() - t
        tracer = Tracer(spark.sparkContext, enabled=False)
        bench.spark, bench.tracer = spark, tracer
        t = time.perf_counter()
        bench.start()
        phases["start_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - PROCESS_START - phases["inputs_s"]

        def timed_run(index: int, traced: bool) -> tuple[float, dict]:
            tracer.enabled = traced
            with tracer.span("run") as run_span:
                bench.run(index)
            tracer.enabled = False
            bench.after_run(index)
            return duration(run_span), run_span

        first_run_s, _ = timed_run(0, False)
        # warm runs back to back while the latest run's wall says the next
        # one ends inside --seconds, and at least MIN_WARM of them; with
        # --trace 1, untraced and traced in turn, starting and ending
        # untraced, because runs still get faster after the first warm one
        walls, traced = [], []
        start = time.perf_counter()
        last = 0.0
        while (len(walls) < MIN_WARM
               or time.perf_counter() - start + last <= args.seconds
               or (args.trace and (not traced or len(walls) <= len(traced)))):
            want_trace = bool(args.trace) and len(traced) < len(walls)
            last, span = timed_run(1 + len(walls) + len(traced), want_trace)
            last_units = {c["name"]: duration(c)
                          for c in tracer.children(span)}
            (traced if want_trace else walls).append((last, span))
        peak_rss_mb = _peak_rss_mb(spark)
        t = time.perf_counter()
        bench.check()
        phases["check_s"] = time.perf_counter() - t
        wall_s = statistics.median(w for w, _ in walls)
        if args.trace:
            per_run = []
            for wall, span in traced:
                m = dict.fromkeys(PER_LAYER, 0.0)
                m.update({
                    "session.get_spark_s": phases["get_spark_s"],
                    "setup.warmup_s": phases["warmup_s"],
                    "first_run_s": first_run_s,
                    "trace.wall_s": wall,
                    "trace.overhead_s": wall - wall_s,
                })
                m.update({f"spark.{k}": v for k, v in
                          tracer.spark_totals(span).items()})
                m.update(bench.layer_metrics(span))
                per_run.append(m)
            values = {k: statistics.median(m[k] for m in per_run)
                      for k in PER_LAYER}
            units = PER_LAYER
            os.makedirs(TRACE_DIR, exist_ok=True)
            trace_path = os.path.join(
                TRACE_DIR, f"{args.workload}-seed{args.seed}.json")
            tracer.dump(trace_path)
        else:
            values = {
                "setup_s": setup_s,
                "wall_s": wall_s,
                "rows_per_s": bench.input_rows / wall_s,
                "peak_rss_mb": peak_rss_mb,
                "output_mb": bench.output_mb,
            }
            units = END_TO_END
            trace_path = None
    finally:
        t = time.perf_counter()
        _stop(spark)
        shutil.rmtree(WORK, ignore_errors=True)
        phases["stop_s"] = time.perf_counter() - t

    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "first_run_s": first_run_s, "warm_runs": len(walls),
        "walls_s": [w for w, _ in walls],
        "traced_walls_s": [w for w, _ in traced], "phases_s": phases,
        "input_rows": bench.input_rows, "last_run_units_s": last_units,
        "outputs": bench.outputs(), "problems": bench.problems,
        "trace_file": trace_path,
    }))
    print(json.dumps({
        "correct": not bench.problems,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]}
                    for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
