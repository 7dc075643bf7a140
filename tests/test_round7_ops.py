"""Round-7 additions: Arrow kernels for interpreted-fold hotspots,
force-layout coordinates, rule-compiler truth table, approx profile."""

from __future__ import annotations

import os
import sys

import pytest

from gcp_datalake_utils_spark.formatters import layout
from gcp_datalake_utils_spark.llm import text
from gcp_datalake_utils_spark.operators import profile
from gcp_datalake_utils_spark.rules import compiler as rc

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402
from tools.check import run_duck, table_hash  # noqa: E402


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _assert_matches_oracle(spark, sf_dir, name):
    sdf = entry.queries()[name](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    drows, dcols = run_duck(entry.oracle_sql()[name], sf_dir)
    assert len(srows) == len(drows) > 0
    assert table_hash(srows, sdf.columns) == table_hash(drows, dcols)


@pytest.mark.parametrize("name", ["repetition_flags_arrow",
                                  "label_centroids_arrow",
                                  "embedding_quantize_arrow",
                                  "batch_ann_topk",
                                  "embedding_near_dups_quantized",
                                  "embedding_near_dups_sharded",
                                  "semantic_dedup",
                                  "kmeans_iterate_arrow",
                                  "similarity_kmeans_assign"])
def test_arrow_kernel_matches_oracle(spark, sf_dir, name):
    """The single implementation of each Arrow-kernel row hash-matches
    its DuckDB oracle (tools/check.py's order-insensitive value hash)
    on a non-empty result: the three fold hotspots, one row per path
    of the signature kernel, candidate join and verify (probe buckets,
    int8 prefilter, sharded join, cluster-labelled bands), and both
    callers of the k-means assignment kernel (the Lloyd loop, one
    assignment against the seeds)."""
    _assert_matches_oracle(spark, sf_dir, name)


@pytest.mark.parametrize("name", ["retention_cohorts",
                                  "path_transitions",
                                  "active_users_rolling7"])
def test_cohort_store_matches_oracle(spark, sf_dir, name):
    """The cohort family's single implementation of each oracle reads
    the daily-activity store, and still hash-matches the DuckDB oracle
    over raw events."""
    _assert_matches_oracle(spark, sf_dir, name)


@pytest.mark.parametrize("name", ["revenue_by_nation",
                                  "order_lines_nested"])
def test_orderkey_store_matches_oracle(spark, sf_dir, name):
    """Both readers of the orderkey store (per-order pre-aggregated
    revenue, bucket-local nesting) hash-match their DuckDB oracles over
    the raw parquet tables."""
    _assert_matches_oracle(spark, sf_dir, name)


def test_orderkey_store_is_keyed_by_corpus(spark, sf_dir):
    """The store is memoized per (session, corpus) and its tables are
    named per corpus: after a second corpus builds its own store in the
    same session, the first corpus reads back exactly its first rows."""
    other = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    for name in ("revenue_by_nation", "order_lines_nested"):
        query = entry.queries()[name]
        first = _sorted_rows(query(spark, sf_dir))
        assert _sorted_rows(query(spark, other)) != first, name
        assert _sorted_rows(query(spark, sf_dir)) == first, name


@pytest.mark.parametrize("name", ["windowed_counts_stream",
                                  "sliding_counts_stream",
                                  "dedup_stream",
                                  "enriched_segment_stream",
                                  "click_attribution_stream",
                                  "daily_activity_stream",
                                  "daily_activity_store_stream",
                                  "closed_sessions_stream",
                                  "funnel_completions_stream",
                                  "ingest_screen_stream"])
def test_stream_drain_matches_oracle(spark, sf_dir, name):
    """Every row drained through ``run_available_now`` hash-matches its
    DuckDB oracle on a non-empty result, so the drain's state-partition
    count never shows in a result."""
    _assert_matches_oracle(spark, sf_dir, name)


@pytest.fixture(scope="module")
def planted_dir(spark, sf_dir, tmp_path_factory):
    """sf0.01 (beside the test corpus) with ``embeddings`` replaced by
    ``_with_planted_twins`` of it and every other table symlinked."""
    import pyarrow.parquet as pq

    from gcp_datalake_utils_spark.llm import similarity as S
    from gcp_datalake_utils_spark.sources import load_table

    src = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    d = tmp_path_factory.mktemp("planted")
    for f in os.listdir(src):
        if f != "embeddings.parquet":
            os.symlink(os.path.join(src, f), d / f)
    e = S._with_planted_twins(load_table(spark, src, "embeddings"))
    pq.write_table(e.toArrow(), d / "embeddings.parquet")
    return str(d)


@pytest.mark.parametrize("name", ["batch_ann64_topk",
                                  "similarity_embedding_near_dups",
                                  "embedding_near_dups64",
                                  "embedding_near_dups_auto"])
def test_rp_lsh_row_matches_oracle_on_planted_twins(spark, planted_dir,
                                                    name):
    """The RP-LSH rows that read empty on the random test corpora
    hash-match their unchanged oracles on a non-empty result once
    near-dup twins are planted, so their probe and verify stages are
    checked on real pairs."""
    _assert_matches_oracle(spark, planted_dir, name)


def test_repetition_arrow_no_exchange(spark, sf_dir):
    plan = text.repetition_flags_arrow(spark, sf_dir) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_force_layout_matches_physics_dict(spark):
    df = layout.force_layout_coords(spark)
    rows = {r["table_id"]: (r["x"], r["y"]) for r in df.collect()}
    pos = layout.force_positions(spark)
    assert set(rows) == set(pos)
    for t, (x, y) in pos.items():
        assert rows[t] == (round(x, 3), round(y, 3))
    # every table placed, no NaNs, non-degenerate spread
    xs = [x for x, _ in rows.values()]
    assert max(xs) - min(xs) > 1.0


def test_rule_compiler_truth_branches_hit(spark):
    df = rc.rule_compiler_truth(spark)
    rows = df.collect()
    assert len(rows) > 0
    # every wildcard branch must actually fire somewhere in the
    # fixtures, otherwise the truth table is not exercising P6
    for flag in ["w_exact", "w_suffix", "w_prefix", "w_multi",
                 "file_pk", "file_fk", "dw_pk", "dv_fk", "common_pk"]:
        assert any(r[flag] for r in rows), f"no fixture hits {flag}"
    # base_name strips key suffixes
    stripped = {r["name"]: r["base_name"] for r in rows}
    for name, base in stripped.items():
        low = name.lower()
        if low.endswith("_id"):
            assert base == low[:-3]


def test_rules_file_roundtrip_compiles_identically():
    from gcp_datalake_utils_spark.rules.config import PatternConfig
    cfg = PatternConfig.from_dict(rc.TRUTH_RULES_FILE)
    assert cfg.pk_indicators == ("id", "key", "pk")
    assert "l_" in cfg.table_patterns
    assert cfg.table_patterns["dim_"]["pk"] == ("*_key", "sk")
    # the compiled predicate is dialect-complete: spark + duck emit
    # the same structure with dialect-specific function names
    s = rc.pk_sql("spark", cfg)
    d = rc.pk_sql("duck", cfg)
    assert "startswith" in s and "starts_with" in d


def test_profile_orders_approx_accuracy(spark, sf_dir):
    exact = {r["column_name"]: r["n_distinct"]
             for r in profile.profile_orders_fast(spark, sf_dir).collect()}
    approx_rows = profile.profile_orders_approx(spark, sf_dir).collect()
    assert len(approx_rows) == len(profile.PROFILE_COLS)
    for r in approx_rows:
        e = exact[r["column_name"]]
        assert abs(r["n_distinct_approx"] - e) <= max(0.10 * e, 2)


def test_profile_orders_approx_no_expand(spark, sf_dir):
    plan = profile.profile_orders_approx(spark, sf_dir) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    assert "SortAggregate" not in plan


def test_kmeans_arrow_final_plan_shape(spark, sf_dir):
    """The returned plan is ONE Arrow pass over the corpus: no
    centroid crossJoin fan-out, no argmax groupBy exchange, no
    broadcast chain (iterations already ran driver-coordinated)."""
    from gcp_datalake_utils_spark.llm import similarity_arrow
    plan = similarity_arrow.kmeans_iterate_arrow(spark, sf_dir) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "Exchange" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmeans_mstep_plan_has_no_join(spark, sf_dir):
    """One Lloyd M-step reads the assignment kernel's output, which
    carries ``embedding`` through: no join back to the corpus."""
    from gcp_datalake_utils_spark.llm import similarity as sim
    from gcp_datalake_utils_spark.llm import similarity_arrow as sa
    from gcp_datalake_utils_spark.sources import load_table
    e = load_table(spark, sf_dir, "embeddings").select("vec_id",
                                                       "embedding")
    step = sa._centroid_table_arrow(
        sim._assign_clusters(e, sim._seed_centroids(e)), "cluster")
    plan = step._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "Join" not in plan


def test_lm_arrow_bit_identical_to_jvm(spark, sf_dir):
    """The broadcast-model scorer must return the identical
    (doc_id, n_bigrams, avg_logprob) table as the join-shaped JVM
    twin — same tokenization, same round-9 logprobs, same exact sum."""
    from gcp_datalake_utils_spark.llm import lm
    jvm = _sorted_rows(lm.lm_doc_scores(spark, sf_dir))
    arrow = _sorted_rows(lm.lm_doc_scores_arrow(spark, sf_dir))
    assert len(jvm) == len(arrow) > 0
    assert jvm == arrow


def test_lm_arrow_scoring_plan_is_narrow(spark, sf_dir):
    """The returned scoring plan is one Arrow pass over documents:
    no joins, no exchanges (the model already rode in as a closure
    constant)."""
    from gcp_datalake_utils_spark.llm import lm
    plan = lm.lm_doc_scores_arrow(spark, sf_dir) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "Exchange" not in plan and "Join" not in plan


def test_lm_bins_arrow_bit_identical_to_jvm(spark, sf_dir):
    from gcp_datalake_utils_spark.llm import lm
    jvm = _sorted_rows(lm.lm_quality_bins(spark, sf_dir))
    arrow = _sorted_rows(lm.lm_quality_bins_arrow(spark, sf_dir))
    assert len(jvm) == len(arrow) > 0
    assert jvm == arrow


def test_value_percentiles_approx_rank_bracket(spark, sf_dir):
    """The GK sketch's contract is RANK error, not value error (it
    returns an actual data value; the exact anchor interpolates, so
    value-space gaps on sparse tails are expected). Assert each
    approx percentile lies between the exact interpolated percentiles
    at p +/- 0.02 rank — far wider than the sketch's 1e-4 bound but
    tight enough to catch a wrong quantile."""
    from pyspark.sql import functions as F
    from gcp_datalake_utils_spark.operators import payload
    from gcp_datalake_utils_spark.sources import load_events
    e = load_events(spark, sf_dir)
    brackets = {r["event_type"]: r for r in e.groupBy("event_type").agg(
        *[F.percentile("value", F.lit(p)).alias(f"q{int(p*10000)}")
          for p in (0.48, 0.52, 0.93, 0.97, 0.975)],
        F.max("value").alias("qmax")).collect()}
    rows = payload.value_percentiles_approx(spark, sf_dir).collect()
    exact_n = {r["event_type"]: r["n"]
               for r in payload.value_percentiles(spark, sf_dir).collect()}
    assert len(rows) == len(brackets) > 0
    for r in rows:
        b = brackets[r["event_type"]]
        assert r["n"] == exact_n[r["event_type"]]
        assert b["q4800"] - 1e-9 <= r["p50"] <= b["q5200"] + 1e-9
        assert b["q9300"] - 1e-9 <= r["p95"] <= b["q9700"] + 1e-9
        assert b["q9750"] - 1e-9 <= r["p99"] <= b["qmax"] + 1e-9


