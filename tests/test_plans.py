"""Physical-plan regression tests — the scale contract (SURVEY.md §4.2,
the 100 TB design rules): filters reach the parquet scan, projections
prune columns, bounded dims broadcast, top-k never global-sorts, and
aggregations partial-combine before the shuffle. A regression here is a
performance bug even when results stay correct.
"""

from __future__ import annotations

import re

import pytest

from goflow2clickhouse_spark.plans import registry

SPECS = registry()
SF = "/root/testdata/sf0.001"


def plan_str(spark, df, mode: str = "formatted") -> str:
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_q1_pushdown_and_pruning(spark):
    p = plan_str(spark, SPECS["q1_pricing_summary"].spark(spark, SF))
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters")[1].split("\n")[0]
    read = re.search(r"ReadSchema: struct<([^>]*)>", p).group(1)
    cols = {c.split(":")[0] for c in read.split(",")}
    assert cols == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }, f"scan reads wrong columns: {cols}"


def test_q1_whole_stage_codegen(spark):
    df = SPECS["q1_pricing_summary"].spark(spark, SF)
    df.collect()  # AQE finalizes the physical plan on execution
    p = plan_str(spark, df, "simple")
    assert "isFinalPlan=true" in p
    assert "*(" in p, f"no WholeStageCodegen spans in q1 plan:\n{p}"


def test_q5_broadcasts_dims(spark):
    p = plan_str(spark, SPECS["q5_local_supplier_volume"].spark(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "BroadcastExchange" in p


def test_q6_all_filters_pushed(spark):
    p = plan_str(spark, SPECS["q6_forecast_revenue"].spark(spark, SF))
    pushed = p.split("PushedFilters")[1].split("\n")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed to scan: {pushed}"


def test_top_talkers_no_global_sort(spark):
    """Top-k must be TakeOrderedAndProject (per-partition heap + merge),
    never Sort+Limit over the full aggregate."""
    p = plan_str(spark, SPECS["flows_top_talkers"].spark(spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "\n    (global Sort" not in p


def test_top_talkers_partial_aggregation(spark):
    """Map-side combine: a HashAggregate must appear below the Exchange
    (shuffle moves one row per (partition, src_addr), not per flow)."""
    p = plan_str(spark, SPECS["flows_top_talkers"].spark(spark, SF), "simple")
    agg_before_exchange = re.search(
        r"HashAggregate.*\n.*Exchange", p
    ) or "partial" in p.lower()
    ordered = p.index("Exchange") > p.index("HashAggregate")
    assert ordered, f"no partial aggregate before shuffle:\n{p}"


def test_anti_join_shape(spark):
    p = plan_str(spark, SPECS["customers_without_orders"].spark(spark, SF))
    assert "LeftAnti" in p


def test_semi_join_shape(spark):
    p = plan_str(spark, SPECS["big_spender_customers_semi"].spark(spark, SF))
    assert "LeftSemi" in p


def test_similarity_topk_broadcast_no_shuffle_scan(spark):
    """Brute-force top-k: query vector broadcast (nested-loop over the
    1-row side), then TakeOrdered — the embeddings scan itself must not
    shuffle."""
    p = plan_str(spark, SPECS["similarity_topk_bruteforce"].spark(spark, SF))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_events_scan_prunes_props(spark):
    """events_minutely must not read the (wide) props JSON column."""
    p = plan_str(spark, SPECS["events_minutely"].spark(spark, SF))
    read = re.search(r"ReadSchema: struct<([^>]*)>", p).group(1)
    assert "props" not in read


def test_flows_view_scan_prunes_lineitem(spark):
    """The derived flows view must read only the 4 lineitem columns it
    uses, at every consumer."""
    p = plan_str(spark, SPECS["flows_protocol_breakdown"].spark(spark, SF))
    read = re.search(r"ReadSchema: struct<([^>]*)>", p).group(1)
    cols = {c.split(":")[0] for c in read.split(",")}
    assert cols <= {"l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
                    "l_extendedprice"}, cols


def test_range_join_broadcasts_window_list(spark):
    """Interval-overlap range join must be a BroadcastNestedLoopJoin
    over the tiny window list — never a cartesian shuffle."""
    p = plan_str(spark, SPECS["flows_maintenance_overlap"].spark(spark, SF))
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_q9_broadcasts_nation(spark):
    p = plan_str(spark, SPECS["q9_product_profit"].spark(spark, SF))
    assert "BroadcastHashJoin" in p


def test_grouping_sets_single_expand(spark):
    """GROUPING SETS must plan one Expand + one aggregation pass, not a
    union of per-set scans."""
    p = plan_str(spark, SPECS["grouping_sets_revenue"].spark(spark, SF), "simple")
    assert p.count("Expand") >= 1
    assert p.count("Scan parquet") == 1


def test_ivf_assignment_no_shuffle(spark):
    """IVF cell assignment is a broadcast + projection; the only
    exchanges allowed are for the tiny centroid/probe sides and the
    final top-k, never a repartition of the embeddings scan."""
    p = plan_str(spark, SPECS["similarity_ivf_ann"].spark(spark, SF), "simple")
    assert "BroadcastNestedLoopJoin" in p
    assert "TakeOrderedAndProject" in p


def test_tfidf_df_join_unhinted_aqe_broadcasts(spark):
    """The document-frequency side is vocabulary-sized — it grows with
    the corpus, so it must NOT be hint-forced to broadcast (r5
    broadcast-bound audit); at the same time, while the vocab actually
    fits in memory AQE must still pick a broadcast join at runtime so
    the TF relation isn't re-shuffled for a small dim. Assert both: no
    hint in the optimized logical plan, and a BroadcastHashJoin in the
    AQE-final physical plan at this SF."""
    df = SPECS["top_terms_tfidf"].spark(spark, SF)
    op = df._jdf.queryExecution().optimizedPlan().toString()
    # exactly one hint survives: the 1-row n_docs scalar cross join;
    # the term-keyed df_t join line must carry none
    hinted = [ln for ln in op.splitlines() if "strategy=broadcast" in ln]
    assert len(hinted) == 1, f"unexpected broadcast hints: {hinted}\n{op}"
    term_joins = [
        ln for ln in op.splitlines() if "Join Inner, (term#" in ln
    ]
    assert term_joins and all(
        "broadcast" not in ln.lower() for ln in term_joins
    ), f"df_t join carries a forced broadcast hint:\n{op}"
    df.collect()
    p = plan_str(spark, df, "simple")
    assert "isFinalPlan=true" in p
    assert p.count("BroadcastHashJoin") >= 1, p


def test_salted_agg_two_phase(spark):
    """Salted aggregation: two aggregation phases around two exchanges,
    same result as the plain groupBy (oracle test covers values)."""
    p = plan_str(spark, SPECS["flows_top_talkers_salted"].spark(spark, SF), "simple")
    assert p.count("Exchange") >= 2
    assert "xxhash64" in p or "pmod" in p


def _partition_keys(p: str) -> list[str]:
    """Every hashpartitioning key-list in the plan string."""
    return re.findall(r"hashpartitioning\((.*?), \d+\)", p)


def test_dedup_exact_fixed_width_shuffle_key(spark):
    """The exact-dedup aggregate must shuffle on sha2(text) — a 64-byte
    fixed-width key — never on the raw document text (VERDICT r2 #1)."""
    p = plan_str(spark, SPECS["dedup_exact"].spark(spark, SF))
    keys = _partition_keys(p)
    assert keys, f"no exchange found:\n{p}"
    assert "sha2" in p
    for k in keys:
        assert not re.search(r"(?<![_\w])text#", k), f"raw text shuffle key: {k}"


def test_funnel_exact_gate_fixed_width_shuffle_key(spark):
    """The curation funnel's exact-dedup window partitions by sha2(text);
    no exchange in the whole composed plan may key on raw text."""
    p = plan_str(spark, SPECS["corpus_curation_funnel"].spark(spark, SF))
    assert "sha2" in p
    for k in _partition_keys(p):
        assert not re.search(r"(?<![_\w])text#", k), f"raw text shuffle key: {k}"


def test_quality_filter_fixed_width_shuffle_key(spark):
    """corpus_quality_filter's exact_dedup threads the sha2 pre-hash:
    the dedup exchange keys on __dedup_sha, not the normalized text."""
    p = plan_str(spark, SPECS["corpus_quality_filter"].spark(spark, SF))
    keys = _partition_keys(p)
    assert any("__dedup_sha" in k for k in keys), keys
    for k in keys:
        assert not re.search(r"(?<![_\w])norm#", k), f"raw norm shuffle key: {k}"


@pytest.mark.parametrize("name", ["dedup_ngram_jaccard", "text_dupngram_fraction"])
def test_shingle_joins_hash_keyed(spark, name):
    """Inverted-index shuffles must key on hash31 of the shingle (8-byte
    long), never the raw n-word shingle string (VERDICT r2 #5)."""
    p = plan_str(spark, SPECS[name].spark(spark, SF))
    keys = _partition_keys(p)
    assert keys, f"no exchange found:\n{p}"
    for k in keys:
        # a string-typed shingle key prints as `shingle#12`; the hashed
        # long prints as `shingle#12L` (or is aliased `h`) — flag only
        # the string form
        assert not re.search(r"shingle#\d+(?![L\d])", k), (
            f"raw shingle shuffle key: {k}"
        )


def test_salted_join_spreads_key(spark):
    """The salted join must shuffle on (key, __salt), not the bare key
    — the whole point is that a hot key spans `factor` reducers. At
    fixture scale Spark rightly broadcasts the tiny dim (no exchange
    at all — also asserted), so the shuffle-join shape salting exists
    for is checked with broadcast disabled, as it would be when the
    dim outgrows the threshold."""
    # default plan: tiny dim broadcasts, salt never reaches an exchange
    p = plan_str(spark, SPECS["salted_priority_revenue"].spark(spark, SF))
    assert "BroadcastHashJoin" in p
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        df = SPECS["salted_priority_revenue"].spark(spark, SF)
        p = plan_str(spark, df)
        m = re.search(r"hashpartitioning\(o_orderpriority[^)]*__salt", p)
        assert m, "join exchange does not include the salt in its key"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        if prev_aqe is not None:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe)
        else:
            # the conf was unset before this test: leaving -1 in the
            # shared session would disable AQE broadcast conversion for
            # every later test in the run
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_dup_span_fixed_width_shuffle_keys(spark):
    """text_dup_span_coverage: every exchange keys on hash31 values or
    doc ids — never shingle strings or raw text."""
    p = plan_str(spark, SPECS["text_dup_span_coverage"].spark(spark, SF))
    keys = _partition_keys(p)
    assert keys, f"no exchange found:\n{p}"
    for k in keys:
        assert not re.search(r"(?<![_\w])(text|shingle)#", k), (
            f"corpus-string shuffle key: {k}"
        )


def test_salted_join_left_semantics(spark):
    """salted_join 'left' must keep unmatched fact rows exactly once
    with NULL dim columns — replicating the dim per salt must never
    duplicate or drop them."""
    from goflow2clickhouse_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "zzz")],
        "id long, k string",
    )
    dim = spark.createDataFrame(
        [("a", 10), ("b", 20)], "k string, v long"
    )
    out = salted_join(fact, dim, on="k", fact_id_col="id",
                      factor=4, how="left")
    rows = {(r.id, r.v) for r in out.collect()}
    assert rows == {(1, 10), (2, 10), (3, 20), (4, None)}
    plain = {(r.id, r.v) for r in fact.join(dim, "k", "left").collect()}
    assert rows == plain
    import pytest

    with pytest.raises(ValueError):
        salted_join(fact, dim, on="k", fact_id_col="id", how="full")


def test_weighted_sample_take_ordered(spark):
    """weighted_topk's ORDER BY + LIMIT must plan as
    TakeOrderedAndProject — per-partition top-k before one merge, no
    global sort of the keyed relation."""
    from goflow2clickhouse_spark.operators.sampling import weighted_topk
    from goflow2clickhouse_spark.schema import load_table

    o = load_table(spark, SF, "orders")
    p = plan_str(spark, weighted_topk(o, "o_totalprice", "o_orderkey", 50))
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p.replace("TakeOrderedAndProject", "")


def test_bm25_broadcasts_stats_and_filters_terms(spark):
    """bm25_topk: the df/stats sides broadcast (term-cardinality /
    1-row relations) and the query-term IN-filter runs BEFORE the
    aggregate — no unfiltered token relation reaches an exchange."""
    p = plan_str(spark, SPECS["bm25_topk"].spark(spark, SF))
    assert p.count("BroadcastExchange") >= 2
    assert "TakeOrderedAndProject" in p
    # token IN-filter present as a pre-aggregate filter
    assert re.search(r"token#\d+ IN \(", p), f"term filter missing:\n{p}"


def test_hll_registers_single_aggregate(spark):
    """hll_registers must be ONE hash aggregate pair (partial +
    final) over the scan — no joins, no extra exchanges."""
    from goflow2clickhouse_spark.operators.sketch import hll_registers
    from goflow2clickhouse_spark.schema import load_table
    from pyspark.sql import functions as F

    o = load_table(spark, SF, "orders").select(
        F.col("o_custkey").alias("key")
    )
    p = plan_str(spark, hll_registers(o), "simple")
    assert p.count("Exchange") == 1, f"expected one exchange:\n{p}"
    assert "Join" not in p


def test_token_budget_no_global_window(spark):
    """token_budget_selection's prefix sum must never plan a window
    over an EMPTY partitionBy on the corpus-sized relation: the only
    unpartitioned window runs over the <=1001-row bucket relation,
    after its own aggregate."""
    p = plan_str(spark, SPECS["token_budget_selection"].spark(spark, SF))
    # every Window over the corpus is partitioned by bucket; an
    # UNPARTITIONED window is only allowed when its window expression
    # reads the aggregated per-bucket total (btot) — i.e. it runs over
    # the <=1001-row bucket relation, not the corpus. Formatted mode
    # prints each Window's detail as "Arguments: [exprs], [partition],
    # [order]" with the partition group OMITTED when empty.
    wins = re.findall(r"\(\d+\) Window\nInput[^\n]*\nArguments: (.*)", p)
    assert wins, f"no Window found:\n{p}"
    for args in wins:
        groups = re.findall(r"\[([^\]]*(?:\([^)]*\)[^\]]*)*)\]", args)
        if len(groups) >= 3 and "bucket" in groups[1]:
            continue  # bucket-partitioned corpus window
        assert "btot" in groups[0], (
            f"unpartitioned window over a non-bucket relation: {args}\n{p}"
        )
    assert "HashAggregate" in p


def test_filtered_ann_prefilters_before_scoring(spark):
    """filtered_ann_topk must PRE-filter via a semi join (guaranteeing
    k results from the eligible set) and still end in
    TakeOrderedAndProject — and the documents scan must push the
    metadata predicates down."""
    p = plan_str(spark, SPECS["filtered_ann_topk"].spark(spark, SF))
    assert "LeftSemi" in p
    assert "TakeOrderedAndProject" in p
    pushed_all = [
        seg.split("\n")[0] for seg in p.split("PushedFilters")[1:]
    ]
    assert any(
        "n_chars" in seg or "lang" in seg for seg in pushed_all
    ), pushed_all


def test_windowed_cms_cells_not_hint_broadcast(spark):
    """The windowed-CMS probe join's cells side grows linearly with the
    number of time windows (depth x width cells PER window — ~18M cells
    for a year of hourly windows, r4 verdict), so it must never be
    HINT-forced to broadcast. Stats- or AQE-chosen broadcast is fine
    and expected while the relation is actually small: size estimates
    grow with the input, so at scale the same unhinted plan becomes a
    shuffle join. A forced hint would be visible in the optimized
    logical plan (`hint (rhs=broadcast)`); its absence is the scale
    contract."""
    df = SPECS["events_windowed_cms"].spark(spark, SF)
    op = df._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" not in op.lower(), (
        f"windowed-CMS plan carries a forced broadcast hint:\n{op}"
    )


def test_batch_topk_window_group_limit(spark):
    """batch_topk's per-query rank filter must plan as WindowGroupLimit
    (per-partition top-k heap before the exchange) — the property that
    bounds the shuffle at Q x k rows per partition."""
    p = plan_str(spark, SPECS["similarity_batch_topk"].spark(spark, SF))
    assert "WindowGroupLimit" in p, p
    # the Q-row query side must broadcast: the cross join plans as a
    # broadcast nested-loop, and NEVER degrades to a cartesian product
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" in p, p


def test_knn_graph_window_group_limit_no_cartesian(spark):
    """The kNN-graph rank filter must plan as WindowGroupLimit (top-k
    heap before the window exchange) and the candidate join must stay
    an equi-join on the LSH bucket — never a cartesian product."""
    p = plan_str(spark, SPECS["embedding_knn_graph"].spark(spark, SF))
    assert "WindowGroupLimit" in p, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_global_shuffle_single_exchange_pruned_scan(spark):
    """global_shuffle is ONE shuffle keyed on the shard hash; the scan
    reads only the id column."""
    df = SPECS["global_shuffle_shards"].spark(spark, SF)
    assert plan_str(spark, df, "simple").count("Exchange") == 1
    p = plan_str(spark, df)
    read = re.search(r"ReadSchema: struct<([^>]*)>", p).group(1)
    assert {c.split(":")[0] for c in read.split(",")} == {"doc_id"}, read


def test_quality_classifier_map_only(spark):
    """Scoring is a pure projection: zero exchanges, no Python UDF —
    the whole 100 TB scoring job is one scan."""
    p = plan_str(spark, SPECS["quality_classifier_scores"].spark(spark, SF))
    assert "Exchange" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_chunk_offsets_is_narrow(spark):
    """The chunker must stay a scan -> generate -> project pipeline:
    the ONLY exchange allowed is the range partitioning for the
    driver-contract output ordering — a hash shuffle appearing here
    means the operator stopped being a narrow transformation."""
    p = plan_str(spark, SPECS["doc_chunk_offsets"].spark(spark, SF))
    assert "hashpartitioning" not in p
    assert p.count("rangepartitioning") == 1
    assert "Generate" in p and "CartesianProduct" not in p
    read = re.search(r"ReadSchema: struct<([^>]*)>", p).group(1)
    cols = {c.split(":")[0] for c in read.split(",")}
    assert cols == {"doc_id", "text"}, f"scan reads wrong columns: {cols}"


def test_semdedup_no_cartesian_and_cell_equijoin(spark):
    """SemDeDup's pairwise compare must be an equi-join on cell (the
    blow-up bound), never a cartesian; the only nested-loop join is
    the 1-row centroid broadcast."""
    p = plan_str(spark, SPECS["semdedup_prune"].spark(spark, SF))
    assert "CartesianProduct" not in p
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).{0,200}cell", p, re.S)


def test_no_side_effecting_asserts_in_package():
    """Under `python -O` every assert statement is stripped WHOLESALE,
    call included — so `assert compact_index(...)` silently skips the
    compaction itself (r9 advice: pq_compacted_probe served the
    uncompacted layout under -O while still matching the oracle).
    Side-effecting index-maintenance calls must never sit inside an
    assert anywhere in the package."""
    import pathlib
    import re

    import goflow2clickhouse_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    pat = re.compile(
        r"^\s*assert\b.*\b(compact_index|append_to_\w+|write_pq_index|"
        r"write_ivfpq_index|write_band_index|"
        r"commit_version|recommit_meta)\s*\("
    )
    offenders = [
        f"{p.relative_to(root)}:{i}: {line.strip()}"
        for p in sorted(root.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if pat.match(line)
    ]
    assert not offenders, offenders


def test_phash_neardup_never_all_pairs(spark):
    """The image near-dup candidate step must be band-key equi-joins
    (the SimHash shape — shuffle/broadcast hash joins on the 16-bit
    band key), NEVER a cartesian over the hash relation: the property
    that lets 100 TB of images dedup through the same join family as
    text."""
    p = plan_str(spark, SPECS["multimodal_phash_neardup"].spark(spark, SF))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_scenario_table_rows_and_index_keys(monkeypatch):
    """The persisted-index scenario table (no Spark needed): every row
    names a plans/storage._LAYOUTS key, no two rows register the same
    name, and two rows share a cached index build exactly when their
    build specs are equal — so pq_index_probe and pq_trained_recall,
    which build the same trained PQ index, build it once."""
    import itertools

    from goflow2clickhouse_spark.plans import extension_queries as X
    from goflow2clickhouse_spark.plans.storage import _LAYOUTS

    rows = X._SCENARIOS
    names = [s.name for s in rows]
    assert len(names) == len(set(names)), names
    assert set(names) <= set(SPECS)
    assert set(X._KINDS) == set(_LAYOUTS)
    assert all(
        b.layout in _LAYOUTS
        for s in rows for b in [s.build, *(b for _, b, _ in X._sides(s))]
    )

    made = itertools.count()
    monkeypatch.setattr(X, "_PERSISTED_INDEX_DIRS", {})
    monkeypatch.setattr(X, "_write", lambda *a: None)
    monkeypatch.setattr("tempfile.mkdtemp", lambda prefix: f"/nx/{next(made)}")
    monkeypatch.setattr("atexit.register", lambda *a, **k: None)
    dirs = {s.name: X._index(None, SF, s.build) for s in rows}
    assert len(set(dirs.values())) == len({s.build for s in rows})
    assert dirs["pq_index_probe"] == dirs["pq_trained_recall"]
