"""End-to-end test of the LogiCash-shaped medallion pipeline against
the reference's deterministic-generator invariants (SURVEY.md section 5):
known dirt rates -> computable survival; gold-table consistency;
idempotent re-runs.
"""

from __future__ import annotations

from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from logicash_etl_spark.datagen import gen_dim_atms, gen_fact_transactions, write_lot
from logicash_etl_spark.pipeline import logicash
from logicash_etl_spark.pipeline.logicash import (
    LogicashConfig, build_gold, run_logicash_pipeline, validate,
)

AS_OF = "2026-01-01 00:00:00"


@pytest.fixture(scope="module")
def pipeline_result(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("logicash")
    write_lot(spark, str(root / "raw"), n_atms=50, n_tx=10_000, as_of=AS_OF)
    cfg = LogicashConfig(
        raw_dir=str(root / "raw"),
        silver_dir=str(root / "silver"),
        gold_dir=str(root / "gold"),
        as_of=AS_OF,
    )
    ctx = run_logicash_pipeline(spark, cfg)
    return ctx, cfg, root


def test_generator_invariants(spark):
    dim = gen_dim_atms(spark, 50)
    assert dim.count() == 50
    assert dim.select("id_atm").distinct().count() == 50
    fact = gen_fact_transactions(spark, 10_000, as_of=AS_OF)
    r = fact.agg(
        F.count("*").alias("n"),
        F.sum(F.col("id_atm").isNull().cast("int")).alias("null_fk"),
        F.sum((F.col("monto") <= 0).cast("int")).alias("neg"),
        F.sum((F.col("fecha") > AS_OF).cast("int")).alias("future"),
        F.min("monto").alias("min_m"),
        F.max("monto").alias("max_m"),
    ).collect()[0]
    assert r.n == 10_000
    # injected rates within binomial tolerance of 1%/2%/1%
    assert 50 <= r.null_fk <= 160
    assert 120 <= r.neg <= 290
    assert 50 <= r.future <= 160
    assert float(r.max_m) <= 8000.00
    # determinism: regeneration is identical
    again = gen_fact_transactions(spark, 10_000, as_of=AS_OF)
    assert fact.exceptAll(again).count() == 0


def test_pipeline_survival_rate(pipeline_result, spark):
    ctx, cfg, root = pipeline_result
    report = ctx["load_silver"]
    total, clean = report["total_rows"], report["clean_rows"]
    assert total == 10_000
    # expected survival ~= 0.99 * 0.98 * 0.99 * 0.90 ~= 0.864
    assert 0.82 <= clean / total <= 0.91
    # single-pass accounting columns present
    for k in ("null_fk_violations", "non_positive_amount_violations",
              "future_date_violations", "failed_status_violations"):
        assert k in report
    # silver on disk matches clean count, day-partitioned
    silver = spark.read.parquet(f"{cfg.silver_dir}/transactions")
    assert silver.count() == clean
    assert "fecha_dia" in silver.columns
    # quality gate: zero violations inside silver
    bad = silver.filter(
        F.col("id_atm").isNull()
        | (F.col("monto") <= 0)
        | (F.col("fecha") > AS_OF)
        | (F.col("status_transaccion") != "EXITOSA")
    )
    assert bad.count() == 0
    # clean + quarantine == total
    quarantine = spark.read.parquet(f"{cfg.silver_dir}/quarantine")
    assert clean + quarantine.count() == total
    # quarantine rows are annotated with their violated rules
    assert quarantine.filter(F.size("violated_rules") == 0).count() == 0


def test_gold_tables(pipeline_result, spark):
    ctx, cfg, root = pipeline_result
    dim = spark.read.parquet(f"{cfg.gold_dir}/dim_atms")
    # SCD1: one row per ATM (the reference's DISTINCT could duplicate)
    assert dim.groupBy("id_atm").count().filter("count > 1").count() == 0
    balance = spark.read.parquet(f"{cfg.gold_dir}/rpt_diario_balance")
    # net flow arithmetic holds
    bad = balance.filter(
        F.col("flujo_neto_dia") != F.col("total_depositos") - F.col("total_retiros")
    )
    assert bad.count() == 0
    rank = spark.read.parquet(f"{cfg.gold_dir}/top_atms_ranking")
    n = rank.count()
    assert rank.agg(F.min("ranking"), F.max("ranking")).collect()[0] == (1, n)
    # ranking ordered by money desc
    rows = rank.orderBy("ranking").collect()
    totals = [r.dinero_total_movido for r in rows]
    assert totals == sorted(totals, reverse=True)


def test_idempotent_rerun(pipeline_result, spark):
    """L5: re-running the whole pipeline must produce identical
    outputs (overwrite semantics everywhere)."""
    ctx, cfg, root = pipeline_result
    before = spark.read.parquet(f"{cfg.gold_dir}/top_atms_ranking").collect()
    ctx2 = run_logicash_pipeline(spark, cfg)
    after = spark.read.parquet(f"{cfg.gold_dir}/top_atms_ranking").collect()
    assert sorted(map(str, before)) == sorted(map(str, after))
    assert [m["status"] for m in ctx2["__manifest__"]] == ["ok"] * 5


def test_in_memory_silver_matches_read_back(pipeline_result, spark):
    """gold and validate consume the silver DataFrame the pipeline
    wrote; over the parquet read back from disk they give the same QA
    rows and the same three gold tables."""
    ctx, cfg, root = pipeline_result
    silver = spark.read.parquet(f"{cfg.silver_dir}/transactions")
    assert ctx["validate"] == {k: v.collect() for k, v in validate(spark, silver).items()}
    for name, expected in build_gold(spark, silver, cfg).items():
        on_disk = spark.read.parquet(f"{cfg.gold_dir}/{name}")
        assert on_disk.columns == expected.columns
        assert sorted(map(repr, on_disk.collect())) == sorted(map(repr, expected.collect()))


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_pipeline_frees_transform_cache(pipeline_result, spark, monkeypatch, tmp_path):
    """The persisted joined frame lives only for one pipeline run,
    whether the run returns or fails after the cache was filled. Each
    run reads the lot through a fresh symlink, so its plan is new to
    the cache manager (persisting an already-cached plan is a no-op
    that would hide a leak). The check is on RDD ids, not the count:
    Spark's context cleaner may free caches that earlier tests left
    unreferenced while the run is in flight."""
    ctx, cfg, root = pipeline_result
    before = _persistent_rdd_ids(spark)

    def fresh_cfg(name):
        (tmp_path / name).symlink_to(cfg.raw_dir, target_is_directory=True)
        return replace(
            cfg,
            raw_dir=str(tmp_path / name),
            silver_dir=str(tmp_path / f"{name}_silver"),
            gold_dir=str(tmp_path / f"{name}_gold"),
        )

    run_logicash_pipeline(spark, fresh_cfg("ok"))
    assert _persistent_rdd_ids(spark) <= before

    def failing_write(df, *args, **kwargs):
        df.count()  # fills the transform cache
        raise RuntimeError("silver write failed")

    monkeypatch.setattr(logicash, "write_parquet_partitioned", failing_write)
    with pytest.raises(RuntimeError, match="silver write failed"):
        run_logicash_pipeline(spark, fresh_cfg("failed"))
    assert _persistent_rdd_ids(spark) <= before


def test_golden_outputs(pipeline_result, spark):
    """Golden-file regression guard: the seeded 10k lot must produce
    byte-identical DQ accounting and top-5 ranking across engine
    versions (tests/golden_logicash.json, generated once from the
    seeded generator — SURVEY.md section 5's deterministic-ground-truth
    strategy made durable)."""
    import json
    import os

    ctx, cfg, root = pipeline_result
    with open(os.path.join(os.path.dirname(__file__), "golden_logicash.json")) as fh:
        golden = json.load(fh)
    assert ctx["load_silver"] == golden["dq_report"]
    top5 = [
        {k: (str(v) if not isinstance(v, (int, float, bool)) else v) for k, v in r.asDict().items()}
        for r in spark.read.parquet(f"{cfg.gold_dir}/top_atms_ranking")
        .orderBy("ranking").limit(5).collect()
    ]
    assert top5 == golden["top5_ranking"]
    assert spark.read.parquet(f"{cfg.gold_dir}/dim_atms").count() == golden["gold_dim_rows"]
    assert spark.read.parquet(f"{cfg.gold_dir}/rpt_diario_balance").count() == golden["balance_rows"]
