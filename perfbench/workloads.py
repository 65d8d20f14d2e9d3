"""The benchmark's workloads. Both drive the engine only through its
public entry points and are closed loops: one driver thread, the next
operation starts when the previous one has finished.

``catalog``    a mix of catalog queries at sf0.01, each one operation
               (``QUERIES[name](spark, sf_dir)`` forced with a ``noop``
               write, so every projected column is computed). The seed
               permutes the query order of every pass; the fixtures are
               fixed at seed 42.
``medallion``  the paper's bronze CSV -> silver -> gold -> QA pipeline,
               one ``run_logicash_pipeline`` call per pass (its runner
               steps are the operations), over a
               ``write_lot(seed=<seed>)`` bronze lot.

Each workload offers ``prepare`` (one set-up repetition), ``verify``
(the untimed correctness check), ``run_pass`` (one pass, no tracing)
and ``traced_pass`` (the same pass with spans and counters).
"""

from __future__ import annotations

import os
import random
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any, Iterator

import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from logicash_etl_spark.datagen import write_lot
from logicash_etl_spark.pipeline.logicash import (
    LogicashConfig, build_gold, extract, run_logicash_pipeline, transform, validate,
)
from logicash_etl_spark.queries import ORACLES, QUERIES
from logicash_etl_spark.queries import pipeline_ops, streaming
from logicash_etl_spark.sources.writers import write_parquet, write_parquet_partitioned

import verify
from fixtures import TABLES, write_fixtures
from tracing import SparkProbe, Tracer

# JVM-only: scan, shuffle and aggregate.
SQL_QUERIES = ("pricing_summary",)
# Every plan crosses the Python/Arrow boundary: pandas UDF, mapInArrow
# and a Python data source.
PYTHON_QUERIES = (
    "embedding_norms_pandas_udf", "doc_stats_map_in_arrow", "lot_datasource_rollup",
)
# A large optimized plan over little data: driver-side build and
# Catalyst dominate.
PLAN_QUERIES = ("cuped_adjusted_ab",)
CATALOG_QUERIES = SQL_QUERIES + PYTHON_QUERIES + PLAN_QUERIES
CATALOG_SF = 0.01

MEDALLION_ATMS = 500
MEDALLION_TX = 50_000
AS_OF = "2026-01-01 00:00:00"

# spans that run Spark actions; their total is exec.exec_s
ACTION_SPANS = ("exec", "sources.write", "dq.violation_counts", "result.collect")


@dataclass
class Op:
    name: str
    seconds: float
    error: str | None = None


class _Traced:
    """Spans and counters of one traced pass."""

    def __init__(self, spark: SparkSession, tracer: Tracer, probe: SparkProbe) -> None:
        self.sc = spark.sparkContext
        self.tr = tracer
        self.probe = probe
        self.c: dict[str, float] = defaultdict(float)
        self._groups: set[tuple[str, str]] = set()
        self._epoch_to_perf = time.time() - time.perf_counter()

    @contextmanager
    def phase(self, name: str, op: str, kind: str = "exec") -> Iterator[dict[str, Any]]:
        """A span whose Spark jobs go to job group ``op/kind`` and whose
        executions are attributed to it. The span closes before the
        bookkeeping starts; the bookkeeping is ``trace.overhead_s``."""
        group = f"{op}/{kind}"
        self._groups.add((group, kind))
        mark = self.probe.mark()
        self.sc.setJobGroup(group, group)
        cpu = time.thread_time()  # this thread only, not the sampler or py4j
        with self.tr.span(name) as span:
            yield span
        if kind == "build":
            self.c["queries.build_cpu_s"] += time.thread_time() - cpu
        t0 = time.perf_counter()
        self.probe.drain()
        self.c["trace.overhead_s"] += time.perf_counter() - t0
        self.executions(span, self.probe.since(mark))

    def executions(self, span: dict[str, Any], qes: list[Any], plans: bool = True) -> None:
        """Catalyst phases of each execution as child spans of ``span``
        and, for executed plans, the plan counters."""
        t0 = time.perf_counter()
        for qe in qes:
            for ph, (start, end) in SparkProbe.phases(qe).items():
                self.c[f"catalyst.{ph}_s"] += end - start
                self.tr.add(f"catalyst.{ph}", start - self._epoch_to_perf,
                            end - self._epoch_to_perf, span)
            if plans:
                for k, v in self.probe.plan_stats(qe).items():
                    self.c[f"plan.{k}"] += v
        self.c["trace.overhead_s"] += time.perf_counter() - t0

    def finish(self) -> dict[str, float]:
        """Fold job-group counters into the pass totals."""
        t0 = time.perf_counter()
        for group, kind in self._groups:
            st = self.probe.job_stats(group)
            if kind == "build":
                self.c["queries.eager_jobs"] += st.get("jobs", 0)
            else:
                for k, v in st.items():
                    self.c[f"exec.{k}"] += v
        self.c["trace.overhead_s"] += time.perf_counter() - t0
        return dict(self.c)


def _cleanup(spark: SparkSession) -> None:
    # operators may persist intermediates; isolate operations
    spark.catalog.clearCache()
    streaming.drop_drain_sinks(spark)


class Catalog:
    name = "catalog"
    verify_first = True  # the verify pass is also the warm-up

    def __init__(self, spark: SparkSession, work: str, seed: int, con: Any) -> None:
        self.spark, self.work, self.con = spark, work, con
        self.rng = random.Random(seed)
        self.sf_dir = ""
        self.queries = CATALOG_QUERIES
        self.input_rows = 0
        self.manifest: list[dict] = []

    def prepare(self, rep: int) -> float:
        """Write the fixtures to a fresh directory, build the CSV lot
        the Python data source reads and warm the Python worker pool."""
        t0 = time.perf_counter()
        self.sf_dir = write_fixtures(os.path.join(self.work, f"sf-{rep}"), CATALOG_SF)
        pipeline_ops.prebuild_lots(self.spark, self.sf_dir)
        warm = F.pandas_udf(lambda s: s, "long")
        self.spark.range(0, 10_000, 1, 4).select(warm("id")).write.format("noop").mode(
            "overwrite").save()
        elapsed = time.perf_counter() - t0
        self.input_rows = sum(
            pq.ParquetFile(f"{self.sf_dir}/{t}.parquet").metadata.num_rows for t in TABLES)
        verify.register_fixtures(self.con, self.sf_dir)
        return elapsed

    def _order(self) -> list[str]:
        order = list(self.queries)
        self.rng.shuffle(order)
        return order

    def verify(self, tr: Tracer) -> list[str]:
        """Collect every query once and compare with its oracle."""
        failures = []
        for name in self._order():
            with tr.span("verify", op=f"{name}#verify"):
                try:
                    with tr.span("result.collect"):
                        got = QUERIES[name](self.spark, self.sf_dir).toPandas()
                    with tr.span("verify.oracle"):
                        why = verify.check_query(self.con, got, ORACLES[name])
                except Exception as exc:  # noqa: BLE001 - reported as a failure
                    why = f"{type(exc).__name__}: {exc}".splitlines()[0]
                finally:
                    _cleanup(self.spark)
            if why:
                failures.append(f"{name}: {why}")
        return failures

    def _run(self, name: str) -> Op:
        t0 = time.perf_counter()
        try:
            QUERIES[name](self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            op = Op(name, time.perf_counter() - t0)
        except Exception as exc:  # noqa: BLE001 - a failed op still counts
            op = Op(name, time.perf_counter() - t0, f"{type(exc).__name__}: {exc}")
        _cleanup(self.spark)
        return op

    def run_pass(self) -> list[Op]:
        return [self._run(name) for name in self._order()]

    def traced_pass(self, tracer: Tracer, probe: SparkProbe, k: int) -> tuple[list[Op], dict]:
        t = _Traced(self.spark, tracer, probe)
        ops = []
        for name in self._order():
            op = f"{name}#{k}"
            error = None
            with tracer.span("op", op=op) as span:
                try:
                    with t.phase("queries.build", op, "build") as build:
                        df = QUERIES[name](self.spark, self.sf_dir)
                    # the analysis that ran while the DataFrame was built
                    t.executions(build, [df._jdf.queryExecution()], plans=False)
                    with t.phase("exec", op):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # noqa: BLE001 - a failed op still counts
                    error = f"{type(exc).__name__}: {exc}"
            ops.append(Op(name, span["end"] - span["start"], error))
            _cleanup(self.spark)
        return ops, t.finish()

    def legacy_count(self) -> dict[str, float]:
        """Seconds per query under the old ``.count()`` forcing."""
        out = {}
        for name in self.queries:
            t0 = time.perf_counter()
            QUERIES[name](self.spark, self.sf_dir).count()
            out[name] = time.perf_counter() - t0
            _cleanup(self.spark)
        return out


class Medallion:
    name = "medallion"
    verify_first = False  # checks the outputs of the last measured run

    def __init__(self, spark: SparkSession, work: str, seed: int, con: Any) -> None:
        self.spark, self.work, self.seed, self.con = spark, work, seed, con
        self.raw = ""
        self.input_rows = MEDALLION_TX
        self.last: dict[str, Any] = {}
        self.manifest: list[dict] = []  # the runner's per-step record

    def prepare(self, rep: int) -> float:
        """Write a fresh bronze lot."""
        t0 = time.perf_counter()
        self.raw = os.path.join(self.work, f"bronze-{rep}")
        write_lot(self.spark, self.raw, n_atms=MEDALLION_ATMS, n_tx=MEDALLION_TX,
                  seed=self.seed, as_of=AS_OF)
        return time.perf_counter() - t0

    def cfg(self) -> LogicashConfig:
        out = os.path.join(self.work, "lake")
        return LogicashConfig(raw_dir=self.raw, silver_dir=f"{out}/silver",
                              gold_dir=f"{out}/gold", as_of=AS_OF)

    def verify(self, tr: Tracer) -> list[str]:
        """Check the outputs of the last pipeline run."""
        cfg = self.cfg()
        with tr.span("verify", op="pipeline#verify"):
            why = verify.check_medallion(self.con, cfg.raw_dir, cfg.silver_dir, cfg.gold_dir,
                                         AS_OF, self.last.get("load_silver", {}))
        return [f"medallion: {why}"] if why else []

    def run_pass(self) -> list[Op]:
        """One pipeline run; its operations are the runner's steps."""
        t0 = time.perf_counter()
        try:
            self.last = run_logicash_pipeline(self.spark, self.cfg())
            self.manifest = self.last["__manifest__"]
            ops = [Op(m["step"], m["sec"]) for m in self.manifest]
        except Exception as exc:  # noqa: BLE001 - a failed run still counts
            self.last = {}
            ops = [Op("pipeline", time.perf_counter() - t0, f"{type(exc).__name__}: {exc}")]
        _cleanup(self.spark)
        return ops

    def traced_pass(self, tracer: Tracer, probe: SparkProbe, k: int) -> tuple[list[Op], dict]:
        """The pipeline's stages through their public functions, in the
        order ``run_logicash_pipeline`` runs them."""
        spark, cfg, t = self.spark, self.cfg(), _Traced(self.spark, tracer, probe)
        op = f"pipeline#{k}"
        error = None
        with tracer.span("op", op=op):
            try:
                with tracer.span("pipeline.extract"):
                    with t.phase("queries.build", op, "build"):
                        dim, fact = extract(spark, cfg)
                with tracer.span("pipeline.transform"):
                    with t.phase("queries.build", op, "build"):
                        silver, quarantine, report = transform(dim, fact, cfg)
                with tracer.span("pipeline.load_silver"):
                    with t.phase("sources.write", op):
                        write_parquet_partitioned(
                            silver, f"{cfg.silver_dir}/transactions", ["fecha_dia"])
                        write_parquet(quarantine, f"{cfg.silver_dir}/quarantine")
                    with t.phase("dq.violation_counts", op):
                        dq = report.collect()[0].asDict()
                with tracer.span("pipeline.gold"):
                    with t.phase("queries.build", op, "build"):
                        tables = build_gold(
                            spark, spark.read.parquet(f"{cfg.silver_dir}/transactions"), cfg)
                    with t.phase("sources.write", op):
                        for name, df in tables.items():
                            write_parquet(df, f"{cfg.gold_dir}/{name}")
                with tracer.span("pipeline.validate"):
                    with t.phase("queries.build", op, "build"):
                        qa = validate(spark, spark.read.parquet(f"{cfg.silver_dir}/transactions"))
                    with t.phase("result.collect", op):
                        for df in qa.values():
                            df.collect()
                t.c["dq.clean_frac"] = dq["clean_rows"] / dq["total_rows"]
                self.last = {"load_silver": dq}
            except Exception as exc:  # noqa: BLE001 - a failed step still counts
                error = f"{type(exc).__name__}: {exc}"
        _cleanup(spark)
        t.c["sources.bronze_bytes"] = verify.dir_bytes(self.raw)
        # one operation per pipeline step, as in the untraced run
        ops = [Op(s["name"].split(".", 1)[1], s["end"] - s["start"]) for s in tracer.spans
               if s["op"] == op and s["name"].startswith("pipeline.")]
        if error:
            ops[-1].error = error
        return ops, t.finish()

    def legacy_count(self) -> dict[str, float]:
        return {}


WORKLOADS = {"catalog": Catalog, "medallion": Medallion}
