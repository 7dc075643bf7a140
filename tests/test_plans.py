"""Physical-plan guards: the scale-critical plan properties asserted so
regressions surface in CI, not at 100 TB (docs/PLANS.md rationale)."""

from __future__ import annotations

from gcp_datalake_utils_spark.operators import payload


def _formatted_plan(df) -> str:
    jdf = df._jdf
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution \
        .ExplainMode.fromString("formatted")
    return jdf.queryExecution().explainString(mode)


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    plan = _formatted_plan(payload.pricing_summary(spark, sf_dir))
    assert "LessThanOrEqual(l_shipdate" in plan, "filter not pushed"
    # projection pruned: the unused l_partkey must not be scanned
    read_schema = [ln for ln in plan.splitlines()
                   if "ReadSchema" in ln][0]
    assert "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


def test_revenue_join_build_sides_broadcast(spark, sf_dir):
    plan = _formatted_plan(payload.revenue_by_nation(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4, \
        "dimension joins must broadcast at test scale"
    assert "CartesianProduct" not in plan


def test_top_orders_single_window_shuffle(spark, sf_dir):
    plan = _formatted_plan(payload.top_orders_per_customer(spark, sf_dir))
    assert "Window" in plan
    # exactly one exchange: the partitionBy(custkey) shuffle
    assert plan.count("Exchange") <= 2


def test_topk_is_take_ordered_not_global_window(spark, sf_dir):
    """Top-k must plan as TakeOrderedAndProject: each partition keeps its
    local k, so no single-partition exchange ever carries the scored
    corpus (the rank window runs over the k-row result only)."""
    from gcp_datalake_utils_spark.llm import similarity
    for fn in (similarity.cosine_topk, similarity.ivf_topk):
        plan = _formatted_plan(fn(spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, fn.__name__
        # the corpus-side scan must sit below the TakeOrdered, not below
        # a SinglePartition exchange: every Exchange SinglePartition in
        # the plan must appear ABOVE (before) the TakeOrdered node text.
        take_pos = plan.index("TakeOrderedAndProject")
        offset = 0
        for ln in plan.splitlines(keepends=True):
            if "SinglePartition" in ln:
                assert offset < take_pos, \
                    f"{fn.__name__}: corpus flows through SinglePartition"
            offset += len(ln)


def test_asof_single_user_shuffle(spark, sf_dir):
    """The as-of timeline formulation must shuffle once on user_id —
    never a range-join fan-out (no CartesianProduct / broadcast NLJ)."""
    from gcp_datalake_utils_spark.operators import asof
    plan = _formatted_plan(asof.asof_last_order(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_decontamination_broadcasts_benchmark(spark, sf_dir):
    """Candidate generation must be a broadcast hash join on the n-gram
    key (corpus side never shuffles) and the pair groupBy must partial-
    aggregate (map-side combine before its single exchange)."""
    from gcp_datalake_utils_spark.llm import decontam
    plan = _formatted_plan(decontam.decontamination(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_partitioned_sink_prunes_at_plan_time(spark, sf_dir, tmp_path):
    """A date-partitioned sink must yield scans whose date predicate is
    a PartitionFilter (directory pruning), not a data-level filter."""
    from pyspark.sql import functions as F
    from gcp_datalake_utils_spark.sources import partitioned, registry
    out = str(tmp_path / "events_by_date")
    partitioned.write_events_by_date(spark, sf_dir, out)
    ev = registry.load_events(spark, sf_dir)
    day, expected = (ev.groupBy(F.to_date("ts").alias("d")).count()
                     .orderBy("d").limit(1).collect()[0])
    df = partitioned.read_events_for_date(spark, out, str(day))
    plan = _formatted_plan(df)
    scan = plan[plan.index("PartitionFilters"):].splitlines()[0]
    assert "event_date" in scan, scan
    assert "PushedFilters: []" not in scan
    assert df.count() == expected


def test_pii_redaction_zero_exchange_codegen(spark, sf_dir):
    """Redaction is a pure narrow projection: no shuffle anywhere and the
    regexp chain must sit inside a WholeStageCodegen span."""
    from gcp_datalake_utils_spark.llm import redact
    plan = _formatted_plan(redact.pii_redaction(spark, sf_dir))
    assert "Exchange" not in plan
    assert "codegen id" in plan


def test_stratified_sample_partitioned_window_only(spark, sf_dir):
    """Quota sampling must (a) never global-sort (no SinglePartition
    window), (b) feed the rank window from the seeded-threshold
    PREFILTERED subset — the hfrac filter (conv of the md5 prefix)
    sits below the window exchange, so the sort carries ~frac of each
    large stratum — and (c) keep the exact top-up branch (Union) with
    broadcast-only joins (stratum-count frames are tiny at any SF)."""
    from gcp_datalake_utils_spark.llm import sampling
    plan = _formatted_plan(sampling.stratified_sample(spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "conv(substring(md5(" in plan, "threshold prefilter missing"
    assert "Union" in plan  # exact top-up branch
    assert "SortMergeJoin" not in plan  # count frames broadcast


def test_scd2_single_exchange_merged_windows(spark, sf_dir):
    """lead() and row_number() share one window spec: one hash exchange
    on the business key, one Sort, no extra shuffle per function."""
    from gcp_datalake_utils_spark.operators import scd2
    plan = _formatted_plan(scd2.scd2_history(spark, sf_dir))
    # formatted mode prints each node twice (tree + numbered detail)
    assert plan.count("Exchange") == 2, "expected exactly one exchange"
    assert "SinglePartition" not in plan
    assert plan.count("Window [") + plan.count("Window (") <= 2, \
        "lead+row_number must merge into one Window operator"


def test_inverted_index_cap_bounded_no_global_sort(spark, sf_dir):
    """The posting-list cap is enforced inside the agg (collect_list
    over a rank-capped when(), which skips nulls) so no aggregation
    buffer ever holds more than POSTINGS_CAP ids; the window must stay
    term-partitioned — never a SinglePartition global sort."""
    from gcp_datalake_utils_spark.llm import index
    plan = _formatted_plan(index.inverted_index(spark, sf_dir))
    assert "SinglePartition" not in plan
    assert f"<= {index.POSTINGS_CAP}" in plan  # cap inside the agg
    assert "collect_list(CASE WHEN" in plan


def test_banded_range_join_is_hash_join(spark, sf_dir):
    """The interval join must plan as an equi-join on the grid cell —
    never the BroadcastNestedLoopJoin / cartesian product Spark would
    pick for a raw BETWEEN predicate. The residual containment filter
    runs post-join on cell-sharing candidates only."""
    from gcp_datalake_utils_spark.operators import rangejoin
    plan = _formatted_plan(rangejoin.events_in_type_windows(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan  # cell equi-join survives optimization


def test_tokenize_once_counts(spark, sf_dir):
    """Guard against the lambda re-inlining pathology: every operator
    that indexes into the word array must tokenize ONCE per scan branch
    (split() as one materialized projection), never inside the lambda
    where Catalyst re-evaluates it per element (the r2 repetition_flags
    quadratic, found again in six operators in r3)."""
    from gcp_datalake_utils_spark.llm import chunks, decontam, dedup, text
    cases = [
        (dedup.shingle_rows(spark, sf_dir), 1),
        (dedup.simhash(spark, sf_dir), 1),
        (text.fingerprints(spark, sf_dir), 1),
        (chunks.doc_chunks(spark, sf_dir), 1),
        # three scan branches (corpus n-grams, bench n-grams,
        # bench sizes): one tokenization each
        (decontam.decontamination(spark, sf_dir), 3),
    ]
    for df, max_splits in cases:
        plan = _formatted_plan(df)
        n = plan.count("split(trim(")
        assert n <= max_splits, f"{n} tokenizations (max {max_splits})"


def test_batch_ann_topk_plan(spark, sf_dir):
    """The batched ANN query must keep the per-query limit as a
    WindowGroupLimit (each task retains only its local top-K per
    query_id during the sort) and join the probe side via
    BroadcastHashJoin — one corpus scan regardless of batch size."""
    from gcp_datalake_utils_spark.llm import similarity
    plan = _formatted_plan(similarity.batch_ann_topk(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan


def test_term_pipeline_pair_sized_shuffles(spark, sf_dir):
    """The term pipeline's first stage (doc_term_pairs) must collapse
    (doc_id, term) duplicates in a PARTIAL hash aggregate below its
    exchange — raw tokens never cross the network. Downstream:
    inverted_index is two pair-sized exchanges, window + same-key agg,
    NO join; corpus_vocabulary is one pair agg + TakeOrdered;
    tfidf_top_terms broadcasts the vocabulary-sized df side back onto
    the pair stream (never the pair stream itself)."""
    from gcp_datalake_utils_spark.llm import index, tfidf

    plan = _formatted_plan(index.inverted_index(spark, sf_dir))
    n_exchanges = sum(
        ln.strip().split(" ", 2)[1] == "Exchange"
        for ln in plan.splitlines()
        if ln.strip().startswith("(") and " " in ln.strip())
    assert n_exchanges == 2, f"inverted_index: {n_exchanges} exchanges"
    assert "hashpartitioning(term" in plan
    assert "Join" not in plan
    # partial agg sits below the first exchange: the map-side collapse
    first_exchange = plan.index("Exchange")
    assert "HashAggregate" in plan[:first_exchange] or \
        plan.count("HashAggregate") >= 2

    plan = _formatted_plan(tfidf.corpus_vocabulary(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # two pair-sized exchanges: (doc_id, term) rollup + term agg
    assert sum("Exchange" in ln and "Broadcast" not in ln
               for ln in plan.splitlines()
               if ln.strip().startswith("(")) <= 2

    plan = _formatted_plan(tfidf.tfidf_top_terms(spark, sf_dir))
    # the equi-join's build side is the broadcast df aggregate: the
    # BroadcastExchange must sit ABOVE an Exchange(term) (the df agg),
    # proving the probe side is the un-shuffled pair stream
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin Cross" in plan  # 1-row n_docs only


def test_bloom_probe_side_has_single_exchange(spark, sf_dir):
    """The Bloom probe must stay narrow: k+1 broadcast joins, no
    fact-sized exchange — the only Exchange allowed is the final
    4-row confusion rollup (docs/PLANS.md round 4)."""
    from gcp_datalake_utils_spark.functions import bloom
    plan = _formatted_plan(bloom.bloom_prefilter_audit(spark, sf_dir))
    shuffles = plan.count("Exchange hashpartitioning")
    assert shuffles <= 1, f"probe-side shuffle crept in:\n{plan[:2000]}"
    assert plan.count("BroadcastHashJoin") >= bloom.BLOOM_K + 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cms_sketch_is_partial_aggregated(spark, sf_dir):
    """Both the pair rollup and the cell build must partial-aggregate
    below their exchanges (bounded shuffle at any corpus size)."""
    from gcp_datalake_utils_spark.llm import sketches
    plan = _formatted_plan(sketches.cms_heavy_hitters(spark, sf_dir))
    assert "partial_sum" in plan or "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_hll_register_rollup_partial_aggregated(spark, sf_dir):
    from gcp_datalake_utils_spark.llm import sketches
    plan = _formatted_plan(sketches.hll_distinct(spark, sf_dir))
    assert "partial_max" in plan, "register max must combine map-side"
    assert "CartesianProduct" not in plan


def test_batch_ann64_probe_join_is_equi(spark, sf_dir):
    """The 64-bit probe join must stay a broadcast equi-join on both
    halves — never a nested-loop product."""
    from gcp_datalake_utils_spark.llm import similarity
    plan = _formatted_plan(similarity.batch_ann64_topk(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_prefix_filter_no_product_and_pruned(spark, sf_dir):
    """Prefix self-join must be an equi-join on the shingle; the verify
    join runs over candidates only (no cross product anywhere)."""
    from gcp_datalake_utils_spark.llm import dedup
    plan = _formatted_plan(dedup.prefix_filter_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_single_shuffle_cascade(spark, sf_dir):
    """The r7 funnel is a single-shuffle window cascade: ONE events
    scan with the step-type IN filter pushed, ONE hash Exchange on
    user_id feeding every Window node and the per-user dedup (the only
    other Exchange is the 1-row SinglePartition count), and exactly
    one Sort (each chained Window reuses the partitioning+ordering)."""
    from gcp_datalake_utils_spark.operators import funnel
    plan = _formatted_plan(funnel.funnel_conversion(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "In(event_type" in plan
    assert plan.count("ReadSchema:") == 1  # ONE parquet scan
    assert plan.count("hashpartitioning(user_id") == 1
    assert plan.count("Arguments: SinglePartition") == 1
    assert plan.count("ASC NULLS FIRST], false, 0") == 1  # one Sort
    assert plan.count("windowspecdefinition") == len(funnel.FUNNEL_STEPS)


def test_paragraph_dedup_hash_keyed_window(spark, sf_dir):
    """First-occurrence election must shuffle on the segment md5 (a
    partitioned window), never a single-partition global sort, and the
    segmentation stage must stay narrow (no extra exchange)."""
    from gcp_datalake_utils_spark.llm import paradedup
    plan = _formatted_plan(paradedup.paragraph_dedup(spark, sf_dir))
    assert "Window" in plan
    assert "hashpartitioning(seg_md5" in plan
    assert "SinglePartition" not in plan
    # segment window exchange + doc rollup exchange only
    assert plan.count("Exchange hashpartitioning") <= 4


def test_lm_scores_no_cartesian_but_vocab_broadcast(spark, sf_dir):
    """The only nested-loop join allowed is the broadcast of the 1-row
    vocabulary count; bigram/context joins must be hash joins."""
    from gcp_datalake_utils_spark.llm import lm
    plan = _formatted_plan(lm.lm_doc_scores(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row vocab frame


def test_weighted_sample_is_take_ordered(spark, sf_dir):
    """A-ES top-N must plan as TakeOrderedAndProject — no global sort
    of the keyed corpus."""
    from gcp_datalake_utils_spark.llm import sampling
    plan = _formatted_plan(sampling.weighted_sample(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_cosine_topk_arrow_shape(spark, sf_dir):
    """The Arrow path must run the scorer as a single MapInPandas over
    a pruned 3-column scan and still top-k via TakeOrderedAndProject."""
    from gcp_datalake_utils_spark.llm import similarity_arrow
    plan = _formatted_plan(
        similarity_arrow.cosine_topk_arrow(spark, sf_dir))
    assert "MapInPandas" in plan
    assert "TakeOrderedAndProject" in plan
    read_schema = [ln for ln in plan.splitlines()
                   if "ReadSchema" in ln][0]
    assert "embedding" in read_schema


def test_profile_fast_is_hash_aggregate_only(spark, sf_dir):
    """The two-stage per-column profile: zero SortAggregate (every
    buffer mutable), zero Expand (no 7x row multiplication), and six
    COLUMN-PRUNED scans — each branch's scan reads exactly one column,
    so total I/O equals one wide scan."""
    from gcp_datalake_utils_spark.operators import profile
    plan = _formatted_plan(profile.profile_orders_fast(spark, sf_dir))
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan
    assert "Expand" not in plan
    import re
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == \
        len(profile.PROFILE_COLS)
    # every scan is single-column (ReadSchema carries exactly one field)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas and all(s.count(":") == 1 for s in schemas)


def test_lm_bigrams_are_codegen_not_lambda(spark, sf_dir):
    """The bigram build must be the arrays_zip shape — zip_with /
    transform lambdas run outside whole-stage codegen and measured
    5.6x slower at sf1."""
    from gcp_datalake_utils_spark.llm import lm
    plan = _formatted_plan(lm._bigram_rows(spark, sf_dir))
    assert "zip_with" not in plan.lower()
    assert "lambdafunction" not in plan.lower()


def test_bucketed_revenue_fact_join_has_no_exchange(spark, sf_dir):
    """The headline 100 TB layout story: lineitem-orders bucketed by
    orderkey joins with NO Exchange on either fact side (the
    unbucketed twin ships a two-sided orderkey shuffle)."""
    from gcp_datalake_utils_spark.functions import scale_demos
    df = scale_demos.revenue_by_nation_bucketed(spark, sf_dir)
    plan = _formatted_plan(df)
    # the unbucketed twin plans `Exchange hashpartitioning(l_orderkey
    # ...)` + `(o_orderkey ...)` around the fact join; the bucketed
    # layout must plan it shuffle-free (at test scale the tiny orders
    # side even broadcasts — also exchange-free on the fact stream)
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    # the only non-broadcast exchange is the final 25-group rollup
    import re
    shuffles = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert all(c in ("r_name", "n_name") for c in shuffles), shuffles


def test_pmi_gram_kernel_shape(spark, sf_dir):
    """The r7 PMI plan: vocab-filtered hits never self-join (no doc_id
    exchange anywhere), pair counting goes through the Arrow Gram
    kernel (MapInPandas), and the only hash exchanges carry term df
    partials and the <=V*(V-1)/2 pair keys. At runtime the canonical
    vocab_row broadcast is computed once (ReusedExchange)."""
    from gcp_datalake_utils_spark.llm import collocations
    df = collocations.pmi_collocations(spark, sf_dir)
    plan = _formatted_plan(df)
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    # the r4 self-join shape is banned: no join keyed by doc_id (the
    # only doc_id exchange allowed is the r13 scan-side fan-out
    # REPARTITION, which redistributes rows without joining them)
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    import re
    shuffles = {m for m in re.findall(
        r"Exchange hashpartitioning\((\w+)", plan)}
    assert shuffles <= {"term", "i", "doc_id"}, shuffles
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final  # one vocab computation, not two


def _plan_nodes(df) -> list:
    """Every node of the physical plan (AQE's initial plan in place of
    its AdaptiveSparkPlan wrapper), parents before children."""
    out, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            node = node.initialPlan()
        out.append(node)
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return out


def _partial_sum_buffer_types(df) -> list[str]:
    types = []
    for node in _plan_nodes(df):
        if node.nodeName() != "HashAggregate":
            continue
        aggs = node.aggregateExpressions()
        for i in range(aggs.size()):
            agg = aggs.apply(i)
            if (agg.mode().toString() == "Partial"
                    and agg.aggregateFunction().prettyName() == "sum"):
                buf = agg.aggregateFunction().aggBufferAttributes()
                types += [buf.apply(j).dataType().typeName()
                          for j in range(buf.size())]
    return types


def _exchanges(df) -> dict[str, int]:
    """Exchanges by kind: BroadcastExchange, or a shuffle by origin —
    ENSURE_REQUIREMENTS (a join or grouping needs it) or
    REPARTITION_BY_NUM (the scaled_repartition fan-out, present only
    when the scan has fewer splits than cores)."""
    out: dict[str, int] = {}
    for node in _plan_nodes(df):
        kind = node.nodeName()
        if kind == "Exchange":
            kind = node.shuffleOrigin().toString()
        elif kind != "BroadcastExchange":
            continue
        out[kind] = out.get(kind, 0) + 1
    return out


def _partial_sum_input(df) -> tuple:
    """(the Partial HashAggregate's sum inputs, the Project below it):
    the stage where each row's exact unit terms are evaluated."""
    for node in _plan_nodes(df):
        if node.nodeName() != "HashAggregate":
            continue
        aggs = node.aggregateExpressions()
        sums = [aggs.apply(i).aggregateFunction() for i in range(aggs.size())
                if aggs.apply(i).mode().toString() == "Partial"
                and aggs.apply(i).aggregateFunction().prettyName() == "sum"]
        if sums:
            return [f.children().apply(0) for f in sums], \
                node.children().apply(0)
    raise AssertionError("no partial sum")


def test_exact_sums_run_on_long_buffers(spark, sf_dir):
    """pricing_summary and revenue_by_nation sum through the fixed-point
    kernel (payload._dsum): every partial sum buffer is a BIGINT, never
    a per-row DECIMAL accumulator, and the exchanges are the ones the
    decimal-buffer plans had. Each distinct unit term (payload._dterm_sql,
    one ``round(`` on its slow path) is evaluated once per row, in the
    Project below the partial aggregate, whose sums read the projected
    unit columns and nothing else."""
    for fn, want, units in (
            (payload.pricing_summary, {"ENSURE_REQUIREMENTS": 1},
             {"qty", "price", "disc_price", "charge", "discount"}),
            (payload.revenue_by_nation,
             {"ENSURE_REQUIREMENTS": 1, "BroadcastExchange": 4},
             {"rev"})):
        df = fn(spark, sf_dir)
        types = _partial_sum_buffer_types(df)
        assert types and set(types) == {"long"}, (fn.__name__, types)
        got = _exchanges(df)
        assert got.pop("REPARTITION_BY_NUM", 0) <= 1, fn.__name__
        assert got == want, (fn.__name__, got)
        inputs, below = _partial_sum_input(df)
        assert below.nodeName() == "Project", (fn.__name__,
                                                below.nodeName())
        plist = below.projectList()
        projected = [plist.apply(i) for i in range(plist.size())]
        assert sum(e.toString().count("round(") for e in projected) \
            == len(units), fn.__name__
        made = {e.exprId().id() for e in projected
                if "round(" in e.toString() and e.name() in units}
        assert len(made) == len(units), fn.__name__
        for expr in inputs:
            refs = expr.references().toSeq()
            read = [refs.apply(i) for i in range(refs.size())]
            assert "round(" not in expr.toString(), (fn.__name__, expr)
            assert read and all(a.exprId().id() in made for a in read), \
                (fn.__name__, expr.toString())
