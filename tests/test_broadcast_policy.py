"""Broadcast-hint policy enforcement (round-8 sweep).

The engine-wide rule (operators/joins.py:broadcast_bounded): a forced
``F.broadcast`` hint is allowed ONLY on frames whose size is bounded by
the CATALOG or by the plan — nation/region (constant rows at every
scale factor), single-row totals, literal codebooks, top-N cutoffs —
never on frames proportional to the data scale (fact-derived sets,
corpus vocabularies, scale-proportional dims). A forced hint overrides
Catalyst's size check; at 100 TB that is a driver OOM, where an
UNHINTED frame lets AQE broadcast-while-small and shuffle-beyond.

Three layers of enforcement:

1. A SOURCE SWEEP pinning the audited whitelist of every remaining
   ``F.broadcast`` site in the package — a new forced hint anywhere
   fails this test until the site is audited and added here.
2. PLAN tests on the text-scoring family (round-7 verdict weak #1):
   the |vocab|-sized, corpus-derived frequency frames must reach their
   scoring joins unhinted (Heaps' law — a 100 TB web corpus has
   billions of distinct tokens); only single-row totals stay hinted.
3. PLAN tests on the bloom demo queries (round-7 verdict finding #2):
   the supplier-derived member/survivor frames must be unhinted; only
   the constant bitmap-assembly join (m_bits/64 words) keeps its hint.
"""

from __future__ import annotations

import os

import pytest

from logicash_etl_spark.queries import QUERIES

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "logicash_etl_spark",
)

# Audited (file, normalized line) pairs. Every entry wraps a frame that
# is catalog-bounded or plan-bounded:
# - single-row totals/extrema aggregates (tot/mx/med/mad/mid/rng/thr/
#   total/g/m2/sb/su/ni/exact/mism/scalars/global_exact/doc_stats/
#   multi/top/b/p/orphans)
# - nation/region star dims (25/5 rows at EVERY sf) and per-event_type
#   or per-lang frames (type codes are a catalog, not a scale, axis)
# - bounded-by-construction sets: salt sequences, df-capped hot-shingle
#   lists, top-N vocabulary cutoffs (ref_top), erasure request batches
#   (req), query-vector sets (q/q_vec), CMS/bloom constant tables,
#   k-sized centroid/codebook frames, benchmark shingle sets (bench),
#   32-row bucket offset frames (off), graph frames over the 25-node
#   nation graph (la/lb/deg/members/existing)
# - the two policy helpers themselves (joins.py), which hint only when
#   the caller declares the frame bounded.
_AUDITED = {
    ("operators/dedup.py", 'hot_idx = sh.join(F.broadcast(hot), on="sh", how="left_semi")'),
    ("operators/dedup.py", 'index = sh.join(F.broadcast(hot), on="sh", how="left_anti")'),
    ("operators/dedup.py", 'sh = sh.join(F.broadcast(hot), on="sh", how="left_anti")'),
    ("operators/graph.py", "F.broadcast(mx)"),
    ("operators/joins.py", 'F.broadcast(hot.withColumnRenamed("__k", key)),'),
    ("operators/joins.py", "d = F.broadcast(dim) if broadcast_dim else dim"),
    ("operators/joins.py", 'hits = probes.join(F.broadcast(bloom), on="word", how="left").select('),
    ("operators/joins.py", "r2 = F.broadcast(r2) if broadcast_intervals else r2"),
    ("operators/joins.py", "return F.broadcast(df) if bounded else df"),
    ("operators/joins.py", "sa.crossJoin(F.broadcast(sb))"),
    ("operators/joins.py", "salted_small = small.crossJoin(F.broadcast(salts))"),
    ("operators/partitioning.py", "off = F.broadcast("),
    ("operators/partitioning.py", "tot.crossJoin(F.broadcast(top10))"),
    ("operators/partitioning.py", ".crossJoin(F.broadcast(lstats))"),
    ("operators/similarity.py", '.join(F.broadcast(q), on="query_id")'),
    ("operators/similarity.py", "cand.join(F.broadcast(q_vec), query_id)"),
    ("operators/similarity.py", 'joined = codes.join(F.broadcast(q), on=codes[id_col] != F.col("query_id"))'),
    ("operators/similarity.py", "q_vec = F.broadcast(q_vec)"),
    ("operators/similarity.py", "scored = c.crossJoin(F.broadcast(q))"),
    ("operators/skyline.py", "off = F.broadcast("),
    ("queries/advanced.py", ".crossJoin(F.broadcast(tot))"),
    ("queries/advanced.py", "return tot.crossJoin(F.broadcast(top)).select("),
    ("queries/advanced.py", "xy = li.crossJoin(F.broadcast(mx)).select("),
    ("queries/analytics.py", "adj = pu.crossJoin(F.broadcast(g)).select("),
    # order_backlog_aging — asof is a single max-date row. Audited r9.
    ("queries/analytics.py", "aged = o.crossJoin(F.broadcast(asof)).select("),
    # abc_inventory_classes — tot is a single totals row. Audited r9.
    ("queries/analytics.py", "labeled = cum.crossJoin(F.broadcast(tot)).select("),
    # time_to_convert_percentiles — stats is a single summary row.
    # Audited r9.
    ("queries/analytics.py", "return n_users.crossJoin(F.broadcast(stats)).select("),
    # mutual_information_cells — tot is a single totals row. Audited r9.
    ("queries/analytics.py", "return m.crossJoin(F.broadcast(tot)).select("),
    # theil_sen_trend — mn is the single global min-day row. Audited r9.
    ("queries/analytics.py", "dx = daily.crossJoin(F.broadcast(mn)).select("),
    # rfm_segmentation — asof is a single max-date row; cuts is a
    # single row of three 4-element percentile arrays. Audited r9.
    ("queries/analytics.py", "per = per.crossJoin(F.broadcast(asof)).select("),
    ("queries/analytics.py", "scored = per.crossJoin(F.broadcast(cuts)).select("),
    # single-row (n, s) totals over the DAILY frame (time-horizon
    # bounded) — audited r9, cusum_changepoint_report
    ("queries/analytics.py", "pre = daily.crossJoin(F.broadcast(tot)).select("),
    # km_return_time_survival (r9): single-row horizon frame and the
    # single-row life-table total
    ("queries/analytics.py", ".crossJoin(F.broadcast(hz))"),
    ("queries/analytics.py", "risk = byh.crossJoin(F.broadcast(tot)).select("),
    ("queries/analytics.py", "binned = tagged.crossJoin(F.broadcast(rng)).select("),
    ("queries/analytics.py", 'dev = ev.join(F.broadcast(med), on="event_type")'),
    ("queries/analytics.py", 'dev.join(F.broadcast(mad), on="event_type")'),
    ("queries/analytics.py", 'j = ranked.join(F.broadcast(nfr), "event_type").withColumn('),
    ("queries/analytics.py", "return a.crossJoin(F.broadcast(b)).select("),
    ("queries/analytics.py", "return counts.crossJoin(F.broadcast(tot)).select("),
    ("queries/analytics.py", "t = ev.crossJoin(F.broadcast(mid)).select("),
    ("queries/analytics.py", "tagged = ev.crossJoin(F.broadcast(mid)).select("),
    ("queries/curation.py", '.join(F.broadcast(bench), on="sh", how="left_semi")'),
    ("queries/curation.py", "return per.crossJoin(F.broadcast(totals)).select("),
    ("queries/curation_ext.py", "budgets = scoped_persist(stats.crossJoin(F.broadcast(tot))).select("),
    ("queries/curation_ext.py", 'cum.join(F.broadcast(budgets.select("source", "budget_tokens")), "source")'),
    ("queries/curation_ext.py", 'docs.join(F.broadcast(p), on="lang")'),
    ("queries/curation_ext.py", "p = scoped_persist(stats.crossJoin(F.broadcast(tot))).select("),
    ("queries/dedup.py", ".crossJoin(F.broadcast(multi))"),
    ("queries/dedup.py", "pair_stats.crossJoin(F.broadcast(doc_stats))"),
    ("queries/mergeable.py", ".crossJoin(F.broadcast(exact))"),
    ("queries/mergeable.py", ".crossJoin(F.broadcast(ni))"),
    ("queries/mergeable.py", '.crossJoin(F.broadcast(scalars.select("theta")))'),
    ("queries/mergeable.py", "all_row = merged.crossJoin(F.broadcast(global_exact)).select("),
    ("queries/mergeable.py", "return F.broadcast(exacts).crossJoin(est).select("),
    ("queries/mergeable.py", "return exact.crossJoin(F.broadcast(med)).select("),
    ("queries/mergeable.py", "s.crossJoin(F.broadcast(mism))"),
    ("queries/mergeable.py", 'scalars = sa.crossJoin(F.broadcast(sb)).select("*", theta)'),
    ("queries/mergeable.py", "scalars.crossJoin(F.broadcast(su))"),
    ("queries/mergeable.py", 'th.join(F.broadcast(cms), on=["i", "bucket"])'),
    ("queries/pipeline_ops.py", "F.broadcast(dimsel),"),
    ("queries/pipeline_ops.py", 'F.broadcast(ref_top.withColumnRenamed("word", "__kept")),'),
    ("queries/pipeline_ops.py", "return counts.crossJoin(F.broadcast(tot)).select("),
    ("queries/pipeline_ops.py", "tok = docs.crossJoin(F.broadcast(mx)).select("),
    ("queries/relational.py", '.join(F.broadcast(actual), on=["day", "prio"], how="left")'),
    ("queries/relational.py", ".join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)"),
    ("queries/relational.py", ".join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)"),
    ("queries/relational.py", 'F.broadcast(req), o.o_custkey == req.c_custkey, "left_semi"'),
    ("queries/relational.py", 'F.broadcast(req), rem_o.o_custkey == req.c_custkey, "left_semi"'),
    ("queries/relational.py", "cal.crossJoin(F.broadcast(dims))"),
    ("queries/relational.py", "j = obs.crossJoin(F.broadcast(tot))"),
    ("queries/relational.py", 'o.join(F.broadcast(req), o.o_custkey == req.c_custkey, "left_anti").write.mode('),
    ("queries/relational.py", "return rows.crossJoin(F.broadcast(orphans)).select("),
    ("queries/relational.py", "return t.crossJoin(F.broadcast(p)).select("),
    # t_closeness_report — gcum is the global band frame (|band
    # domain| rows, an aggregate bounded by the sensitive attribute's
    # generalization, not by row count); tot is a single totals row.
    # Audited r9.
    ("queries/relational.py", "cls.crossJoin(F.broadcast(gcum))"),
    ("queries/relational.py", "cum.crossJoin(F.broadcast(tot))"),
    ("queries/similarity.py", "c.crossJoin(F.broadcast(q))"),
    ("queries/similarity.py", 'emb.join(F.broadcast(q), on=emb["vec_id"] != F.col("query_id"))'),
    ("queries/similarity.py", "t = emb.crossJoin(F.broadcast(mx)).select("),
    ("queries/streaming.py", 'stream.join(F.broadcast(tiers), on="event_type")'),
    ("queries/subqueries.py", "c.crossJoin(F.broadcast(thr))"),
    ("queries/subqueries.py", "per_part.crossJoin(F.broadcast(total))"),
    ("queries/subqueries.py", "rev.join(F.broadcast(mx), rev.__rev == mx.__mx)"),
    ("queries/tpch_shapes.py", ".crossJoin(F.broadcast(m2))"),
    ("queries/tpch_shapes.py", '.join(F.broadcast(deg.select(F.col("node").alias("z"), "deg")), on="z")'),
    ("queries/tpch_shapes.py", '.join(F.broadcast(lb), "dst")'),
    ("queries/tpch_shapes.py", ".join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)"),
    ("queries/tpch_shapes.py", ".join(F.broadcast(na), su.s_nationkey == na.n_nationkey)"),
    ("queries/tpch_shapes.py", ".join(F.broadcast(nc), cu.c_nationkey == nc.c_nk)"),
    ("queries/tpch_shapes.py", ".join(F.broadcast(ns), su.s_nationkey == ns.s_nk)"),
    ("queries/tpch_shapes.py", ".join(F.broadcast(reg), nc.c_rk == reg.r_regionkey)"),
    ("queries/tpch_shapes.py", 'F.broadcast(existing), on=["nation_a", "nation_b"], how="left_anti"'),
    ("queries/tpch_shapes.py", 'cstat.join(F.broadcast(members), "community")'),
    ("queries/tpch_shapes.py", "pair.crossJoin(F.broadcast(tot))"),
    ("queries/tpch_shapes.py", 'sym.join(F.broadcast(la), "src")'),
}


def _broadcast_sites() -> set[tuple[str, str]]:
    sites: set[tuple[str, str]] = set()
    for dirpath, _dirs, files in os.walk(_PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, _PKG)
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    if "F.broadcast(" in line:
                        sites.add((rel, " ".join(line.split())))
    return sites


def test_every_forced_broadcast_is_audited():
    """Source sweep: no ``F.broadcast`` outside the audited whitelist.

    A NEW forced hint must be audited (is the frame catalog- or
    plan-bounded — constant at every scale factor?) and added to
    ``_AUDITED`` with its justification class, or routed through
    ``broadcast_bounded(df, bounded=False)`` so AQE sizes it. Stale
    entries (sites removed or rewritten) must be pruned — the
    comparison is exact in both directions."""
    sites = _broadcast_sites()
    new = sites - _AUDITED
    stale = _AUDITED - sites
    assert not new, f"unaudited F.broadcast sites: {sorted(new)}"
    assert not stale, f"stale whitelist entries: {sorted(stale)}"


# ---------------------------------------------------------------------------
# Plan tests: corpus-derived frames reach their joins UNHINTED
# ---------------------------------------------------------------------------

_TEXT_SCORING = [
    "tfidf_top_terms",
    "collocation_lift_top20",
    "unigram_surprisal_score",
    "bigram_surprisal_score",
]


def _hinted_join_lines(df) -> list[str]:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [
        ln.strip()
        for ln in plan.splitlines()
        if "Join" in ln and "Hint" in ln
    ]


@pytest.mark.parametrize("name", _TEXT_SCORING)
def test_text_scoring_vocab_frames_unhinted(spark, sf_dir, name):
    """The |vocab|-sized frequency frames (unigram counts, bigram
    counts, document frequencies) are corpus-derived — by Heaps' law
    they grow without bound with the corpus — so they must reach their
    scoring joins UNHINTED. The only hints allowed to survive are on
    the Cross joins against single-row totals (corpus token count,
    vocabulary size, source count), whose cardinality is 1 by
    construction. (Round-7 verdict weak #1 — the text-scoring analog
    of the round-6 erasure-audit fix.)"""
    df = QUERIES[name](spark, sf_dir)
    for ln in _hinted_join_lines(df):
        assert "Join Cross" in ln, (
            f"{name}: forced broadcast hint on a non-totals join: {ln}"
        )


@pytest.mark.parametrize(
    "name", ["bloom_join_prune_stats", "bloom_pruned_revenue"]
)
def test_bloom_demo_supplier_frames_unhinted(spark, sf_dir, name):
    """The bloom demos' member/survivor frames derive from the supplier
    dim (dim-proportional: 10k rows x sf) and the probed fact keys —
    both grow with scale, so they reach their joins unhinted and AQE
    broadcasts them only while their runtime size allows. The one hint
    allowed to survive is the bitmap-ASSEMBLY join inside
    bloom_filter_build/probe, whose right side is the m_bits/64-row
    word frame — a constant of the filter config (4 rows at
    m_bits=256), keyed on the word index."""
    df = QUERIES[name](spark, sf_dir)
    for ln in _hinted_join_lines(df):
        assert "word#" in ln and "key#" not in ln, (
            f"{name}: forced broadcast hint on a supplier/fact-derived "
            f"frame: {ln}"
        )
