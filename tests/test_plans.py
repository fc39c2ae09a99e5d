"""Physical-plan property gates (SURVEY.md §4): correctness tests say
the answer is right; these say the *plan* is the one that survives a
100x scale-up — pushdown reaches the scan, small dims broadcast, top-k
avoids a full sort, aggregation combines map-side, and hot paths stay
inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkstreamingtohdfsofsensorsdata_spark import registry
from sparkstreamingtohdfsofsensorsdata_spark.plans import inspect
from sparkstreamingtohdfsofsensorsdata_spark.tables import load

SF = "/root/testdata/sf0.001"
SPECS = registry.load_all()


def q(spark, name):
    return SPECS[name].fn(spark, SF)


def test_filter_pushdown_reaches_scan(spark):
    df = q(spark, "q_filter_compare")
    assert inspect.has_pushed_filters(df, "l_quantity")


def test_column_pruning(spark):
    df = load(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    (cols,) = inspect.read_schema_columns(df)
    assert cols == ["l_orderkey", "l_quantity"]


def test_broadcast_join_for_small_dim(spark):
    assert inspect.has_broadcast_join(q(spark, "q_join_broadcast"))


def test_tpch_q5_broadcasts_dims(spark):
    # 6-way join: nation/region (and at this SF every dim) must go
    # broadcast, never a shuffled join for a 5-row table.
    assert inspect.has_broadcast_join(q(spark, "q_tpch_q5"))


def test_global_topk_is_take_ordered(spark):
    assert inspect.has_take_ordered(q(spark, "q_topk_global"))


def test_group_agg_partial_before_shuffle(spark):
    assert inspect.has_partial_aggregation(q(spark, "q_agg_group"))


def test_flagship_stays_in_codegen(spark):
    # AQE shows codegen stages only in the final (post-execution) plan.
    df = q(spark, "q_agg_group")
    df.collect()
    assert inspect.codegen_stage_count(df) >= 1


def test_partitioned_readback_prunes(spark):
    # Build the partitioned layout, then check the pruned scan shape on
    # the read-back plan (the registered query wraps both steps).
    df = q(spark, "q_sink_partitioned")
    assert inspect.has_partition_filters(df, "event_date")


def test_semi_join_no_duplication(spark):
    # left-semi must stay a semi join (no row-duplicating inner rewrite)
    text = inspect.plan_str(q(spark, "q_join_semi"))
    assert "LeftSemi" in text


def test_bucketed_join_is_exchange_free(spark):
    # bucketBy on the join key pins co-partitioning into storage: the
    # fact-fact SMJ must read buckets pairwise with NO Exchange on
    # either side — the shuffle-free join that matters most at 100 TB.
    from sparkstreamingtohdfsofsensorsdata_spark.operators.bucketing import (
        bucketed_join,
    )

    text = inspect.plan_str(bucketed_join(spark, SF))
    assert "SortMergeJoin" in text
    assert "Exchange" not in text
    assert "Bucketed: true" in text


def test_embed_neardup_fully_distributed(spark):
    # Two-sided blocked GEMM: the pair space is covered by executor-side
    # applyInPandas groups — no driver-side materialization of the
    # corpus anywhere in the query body.
    import inspect as pyinspect

    from sparkstreamingtohdfsofsensorsdata_spark.llm import dedup

    src = pyinspect.getsource(dedup.q_llm_embed_neardup)
    assert "toPandas" not in src and ".collect()" not in src
    assert "FlatMapGroupsInPandas" in inspect.plan_str(
        q(spark, "q_llm_embed_neardup")
    )


def test_ivf_cell_assignment_is_shuffle_free(spark):
    # Round-3 verdict flagged the old crossJoin(broadcast)+Window cell
    # assignment: an Exchange of 16x the corpus bytes for a row-local
    # argmax. The literal-centroid rewrite must put NO Exchange between
    # the embeddings scan and the assigned cell.
    from sparkstreamingtohdfsofsensorsdata_spark.llm import similarity as sim
    from sparkstreamingtohdfsofsensorsdata_spark.tables import load as _load

    v = sim._as_double(_load(spark, SF, "embeddings"))
    cent_rows = [
        {"cell": i, "ce": [0.0] * 63 + [1.0]} for i in range(sim.IVF_NLIST)
    ]
    text = inspect.plan_str(sim._assign_cells(v, cent_rows))
    assert "Exchange" not in text


def test_ivf_quantizer_is_label_free(spark):
    # The coarse quantizer must be unsupervised: no parquet scan may
    # READ the fixture's ground-truth `label` column (it still shows in
    # the Relation schema listing — pruning is what proves non-use).
    df = q(spark, "q_llm_sim_topk_ivf")
    schemas = inspect.read_schema_columns(df)
    assert schemas and all("label" not in cols for cols in schemas)


def test_salted_join_spreads_hot_key(spark):
    # The salted form must (a) not silently collapse to broadcast — the
    # whole point is the dim is "too big" to broadcast — and (b) join on
    # the composite (key, salt) so the hot key hashes to 8 reducers.
    text = inspect.plan_str(q(spark, "q_join_skew_salted"))
    assert "BroadcastHashJoin" not in text
    assert "salt" in text


def test_contamination_benchmark_broadcasts(spark):
    # The benchmark shingle set must be the broadcast side: the corpus
    # (100 TB at scale) never shuffles for the membership probe.
    text = inspect.plan_str(q(spark, "q_llm_contamination"))
    assert "BroadcastHashJoin" in text and "LeftSemi" in text


def test_sample_filter_is_scan_local(spark):
    # The hash-threshold sample is a plain deterministic filter: no
    # shuffle may precede it, and the scan only reads needed columns.
    df = q(spark, "q_sample_hash")
    (cols,) = inspect.read_schema_columns(df)
    assert set(cols) <= {"o_orderkey", "o_orderpriority", "o_totalprice"}
    # the only exchange allowed is the final aggregation's — the filter
    # itself must sit on the scan side of it (one exchange total)
    assert inspect.plan_str(df).count("Exchange hashpartitioning") <= 1


def test_q19_infers_per_side_filters(spark):
    # The disjunction mixes part and lineitem columns; Catalyst must
    # still derive and push the implied per-side filters (quantity
    # brackets onto the lineitem scan, brand/size onto the part scan).
    text = inspect.plan_str(q(spark, "q_tpch_q19"))
    li_scans = [
        ln for ln in text.splitlines()
        if "DataFilters" in ln and "l_quantity" in ln
    ]
    part_scans = [
        ln for ln in text.splitlines()
        if "DataFilters" in ln and "p_brand" in ln
    ]
    assert li_scans and part_scans


def test_q18_semi_aggregates_before_join(spark):
    # The IN subquery must become a semi join whose build side is the
    # PRE-AGGREGATED order list (HAVING runs before the join).
    text = inspect.plan_str(q(spark, "q_tpch_q18"))
    assert "LeftSemi" in text
    assert "partial_" in text


def test_sorted_layout_skips_row_groups(spark):
    # Same data, same filter, only the write-time ORDER BY differs: the
    # sorted layout's row-group min/max stats must let the scan skip
    # most of the table, the unsorted layout scans ~everything.
    from sparkstreamingtohdfsofsensorsdata_spark.operators.scans import (
        SORTED_BLOCK_BYTES,
    )
    from sparkstreamingtohdfsofsensorsdata_spark.session import scratch_dir
    from sparkstreamingtohdfsofsensorsdata_spark.tables import load

    sf_mid = "/root/testdata/sf0.01"  # enough rows for many row groups
    ev = load(spark, sf_mid, "events").select("event_id", "user_id", "value")
    total = ev.count()
    base = scratch_dir("layout_cmp_")
    for layout, frame in (
        ("sorted", ev.orderBy("user_id", "event_id")),
        ("unsorted", ev.orderBy("event_id")),
    ):
        (
            frame.coalesce(2)
            .write.mode("overwrite")
            .option("parquet.block.size", SORTED_BLOCK_BYTES // 16)
            .parquet(f"{base}/{layout}")
        )
    rows = {}
    for layout in ("sorted", "unsorted"):
        df = (
            spark.read.parquet(f"{base}/{layout}")
            .filter(F.col("user_id").between(3, 4))
        )
        df.collect()
        (rows[layout],) = inspect.scan_output_rows(df)
    assert rows["sorted"] < rows["unsorted"] / 2, (rows, total)


def test_tokenize_vocab_lookup_broadcasts(spark):
    # The vocab (256 rows; a tokenizer table in production) must be the
    # broadcast side of the id lookup — the exploded corpus token
    # stream never shuffles for the join.
    text = inspect.plan_str(q(spark, "q_llm_tokenize_vocab"))
    assert "BroadcastHashJoin" in text


def test_gapfill_grid_is_lazy_and_broadcast(spark):
    # The hourly grid derives from a 1-row bounds aggregate inside the
    # plan (no driver-side collect), and joins the hourly aggregate via
    # broadcast — the big-table side shuffles only for its own groupBy.
    df = q(spark, "q_ts_gapfill")
    text = inspect.plan_str(df)
    assert "BroadcastHashJoin" in text
    assert "Generate explode" in text or "Generate" in text


def test_q13_keeps_outer_join(spark):
    # The priority filter sits in the join CONDITION; the plan must
    # keep LeftOuter (a WHERE-placed filter would collapse it to inner
    # and silently drop zero-order customers).
    text = inspect.plan_str(q(spark, "q_tpch_q13"))
    assert "LeftOuter" in text


def test_q16_not_in_is_broadcast_anti(spark):
    # The excluded-supplier list is tiny: NOT IN must become a
    # broadcast anti join, never a shuffle against lineitem.
    text = inspect.plan_str(q(spark, "q_tpch_q16"))
    assert "LeftAnti" in text and "Broadcast" in text


def test_sessionize_single_window_exchange(spark):
    # lag() and the running session-id sum share one window spec —
    # the plan must pay exactly one exchange on user_id for both.
    text = inspect.plan_str(q(spark, "q_ts_sessionize"))
    # the plan pays exactly ONE user_id shuffle today; <= 2 would let a
    # regression to divergent window specs (a second corpus-volume
    # exchange — the defect this gate exists for) pass green (review r6)
    assert text.count("hashpartitioning(user_id") == 1


def test_zorder_layout_skips_both_dimensions(spark):
    # A user-sorted layout prunes user probes only (value probes scan
    # everything); the z-ordered layout must prune BOTH probe
    # dimensions — each less sharply than a dedicated sort, which is
    # exactly the z-order trade.
    from sparkstreamingtohdfsofsensorsdata_spark.operators.scans import (
        SORTED_BLOCK_BYTES,
        ZORDER_BITS,
        ZORDER_EXPR,
    )
    from sparkstreamingtohdfsofsensorsdata_spark.session import scratch_dir

    sf_mid = "/root/testdata/sf0.01"
    ev = load(spark, sf_mid, "events").select("event_id", "user_id", "value")
    total = ev.count()
    bounds = ev.agg(
        F.min("user_id").alias("u0"), F.max("user_id").alias("u1"),
        F.min("value").alias("v0"), F.max("value").alias("v1"),
    )
    lim = (1 << ZORDER_BITS) - 1
    norm = ev.crossJoin(F.broadcast(bounds)).select(
        "event_id", "user_id", "value",
        F.least(F.floor((F.col("user_id") - F.col("u0"))
                        / (F.col("u1") - F.col("u0") + 1)
                        * (1 << ZORDER_BITS)).cast("int"),
                F.lit(lim)).alias("ua8"),
        F.least(F.floor((F.col("value") - F.col("v0"))
                        / (F.col("v1") - F.col("v0"))
                        * (1 << ZORDER_BITS)).cast("int"),
                F.lit(lim)).alias("vb8"),
    )
    base = scratch_dir("zorder_cmp_")
    (
        norm.withColumn("z", F.expr(ZORDER_EXPR))
        .orderBy("z", "event_id").drop("z", "ua8", "vb8")
        .coalesce(2).write.mode("overwrite")
        .option("parquet.block.size", SORTED_BLOCK_BYTES // 16)
        .parquet(f"{base}/zorder")
    )
    (
        ev.orderBy("user_id", "event_id")
        .coalesce(2).write.mode("overwrite")
        .option("parquet.block.size", SORTED_BLOCK_BYTES // 16)
        .parquet(f"{base}/usersort")
    )

    def scanned(layout, probe):
        df = spark.read.parquet(f"{base}/{layout}")
        df = df.filter(
            F.col("user_id").between(3, 4) if probe == "user"
            else (F.col("value") >= 150)
        )
        df.collect()
        (rows,) = inspect.scan_output_rows(df)
        return rows

    # off-dimension probe on the single-sorted layout scans everything
    assert scanned("usersort", "value") > total * 0.9
    # the z-ordered layout prunes both dimensions
    assert scanned("zorder", "user") < total * 0.6
    assert scanned("zorder", "value") < total * 0.3


def test_mix_sample_single_narrow_scan_plus_broadcast(spark):
    # Mixture sampling must be two scans exactly — one full (doc_id,
    # text, source) pass for tagging, one source-only pruned pass for
    # the rate table — with the 20-row rates BROADCAST onto the big
    # side. A third scan would mean the rate subtree is computed twice
    # (the Catalyst no-common-subplan trap this query is shaped to
    # avoid); a shuffled rate join would shuffle the corpus.
    df = q(spark, "q_llm_mix_sample")
    scans = inspect.read_schema_columns(df)
    assert len(scans) == 2, scans
    assert sorted(map(tuple, scans), key=len) == [
        ("source",),
        ("doc_id", "text", "source"),
    ], scans
    assert inspect.has_broadcast_join(df)
    assert inspect.has_partial_aggregation(df)


def test_session_window_single_exchange(spark):
    # Batch session_window: gap-merge happens inside the aggregation
    # (MergingSessions), so the whole query pays ONE exchange on
    # user_id — no window-function sort pass, no second shuffle.
    text = inspect.plan_str(q(spark, "q_ts_session_window"))
    assert "MergingSessions" in text
    assert text.count("Exchange hashpartitioning") == 1


def test_compaction_one_file_per_partition(spark):
    # The fragmented layout must actually be fragmented (16 writer
    # tasks x day) and the compacted layout must hold exactly ONE data
    # file per day directory — otherwise the op isn't doing anything.
    import glob
    import os

    from sparkstreamingtohdfsofsensorsdata_spark.operators.scans import (
        compact_partitions,
        write_fragmented_events,
    )
    from sparkstreamingtohdfsofsensorsdata_spark.session import scratch_dir

    base = scratch_dir("compact_gate_")
    frag, packed = f"{base}/frag", f"{base}/packed"
    write_fragmented_events(spark, SF, frag)
    compact_partitions(spark, frag, packed)

    def files_per_day(root):
        return {
            d: len(glob.glob(os.path.join(root, d, "*.parquet")))
            for d in os.listdir(root)
            if d.startswith("event_date=")
        }

    frag_counts = files_per_day(frag)
    packed_counts = files_per_day(packed)
    assert frag_counts and max(frag_counts.values()) > 1
    assert packed_counts.keys() == frag_counts.keys()
    assert set(packed_counts.values()) == {1}, packed_counts


def test_dpp_injects_dynamic_partition_filter(spark):
    # The fact scan must carry a dynamicpruningexpression in its
    # PartitionFilters — proof the dim predicate prunes fact partitions
    # at runtime rather than after a full scan.
    text = inspect.plan_str(q(spark, "q_join_dpp"))
    assert "dynamicpruning" in text, "no dynamic partition pruning in plan"


def test_boilerplate_broadcast_hot_set_no_expand(spark):
    # The hot-shingle set must be filtered by document frequency
    # BEFORE it joins back (tiny by construction), and that join must
    # be a broadcast — a shuffled join here would shuffle the full
    # shingle stream. The DF count must also be a plain count, not a
    # distinct aggregate: (doc_id, h) is already unique per doc, so an
    # Expand/partial-distinct pass would double the shingle bytes
    # through the first shuffle for nothing.
    df = q(spark, "q_llm_boilerplate")
    text = inspect.plan_str(df)
    assert inspect.has_broadcast_join(df)
    assert inspect.has_partial_aggregation(df)
    assert "Expand" not in text, "distinct-aggregate expansion in DF count"


def test_simhash_pair_gen_value_join_plus_expansion(spark):
    # r15 grouped shape: ONE band-bucket join over DISTINCT simhash
    # values with the hamming test applied inside it (the 8-byte
    # signature rides the band explode), plus exactly TWO group-table
    # expansion joins that fan the near-dup VALUE pairs back out to
    # doc pairs. No other join may appear, and the bucket join must
    # compare values (simhash < simhash), never doc ids — a doc-keyed
    # bucket join would re-admit the exact-duplicate quadratics the
    # grouping exists to collapse.
    from sparkstreamingtohdfsofsensorsdata_spark.llm import dedup

    text = inspect.plan_str(dedup._simhash_banded_pairs_plan(spark, SF))
    n_joins = sum(
        text.count(j)
        for j in (
            "BroadcastHashJoin",
            "SortMergeJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
        )
    )
    assert n_joins == 3, f"expected bucket join + 2 expansions, saw {n_joins}"
    join_lines = [l for l in text.splitlines() if "Join" in l]
    bucket = [l for l in join_lines if "bit_count" in l]
    assert len(bucket) == 1, "hamming filter not inside exactly one join"
    assert "doc_id" not in bucket[0], "bucket join must compare values, not docs"


def test_asof_join_is_one_exchange_no_join(spark):
    # The as-of is the union-window form: ONE shuffle on user_id into a
    # single Window, and no join operator at all — the shape that keeps
    # it linear at 100 TB where a range self-join would explode.
    text = inspect.plan_str(q(spark, "q_join_asof"))
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in text, f"asof must not contain {op}"
    exchanges = [l for l in text.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchanges) == 1, f"expected one shuffle, saw {len(exchanges)}"
    assert "user_id" in exchanges[0]


def test_range_join_stays_keyed(spark):
    # The 10-minute band condition must ride a KEYED join on user_id as
    # a residual filter; a planner that falls back to a nested-loop or
    # cartesian product is quadratic in events and dead at scale.
    text = inspect.plan_str(q(spark, "q_join_range"))
    assert "BroadcastNestedLoopJoin" not in text
    assert "CartesianProduct" not in text
    keyed = sum(
        text.count(j)
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    assert keyed >= 1, "expected a keyed equi join with range residual"


def test_minhash_candidate_shuffle_is_narrow(spark):
    # The band candidate join must shuffle only (doc_id, band_key);
    # the 12-element signatures come back via TWO broadcast rejoins
    # (carrying them through the candidate explosion multiplied shuffle
    # width ~50x and OOMed at sf0.1 — dedup.py docstring).
    text = inspect.plan_str(q(spark, "q_llm_minhash_lsh"))
    assert text.count("BroadcastHashJoin") >= 2, "signature rejoins must broadcast"
    assert "CartesianProduct" not in text
    assert "BroadcastNestedLoopJoin" not in text
    # The only hash shuffle allowed is the narrow pair-dedup on
    # (id_a, id_b); at sf0.001 the band join itself goes broadcast (at
    # scale it becomes an SMJ/SHJ keyed on band_key — still narrow).
    hash_exchanges = [
        l for l in text.splitlines() if "Exchange hashpartitioning" in l
    ]
    assert hash_exchanges, "expected the narrow pair-dedup shuffle"
    for line in hash_exchanges:
        assert "sig" not in line, f"signature rides a shuffle: {line}"
        assert "id_a" in line and "id_b" in line, (
            f"unexpected wide shuffle: {line}"
        )


def test_split_leakage_single_scan_single_wide_shuffle(spark):
    # The duplicate-injected corpus must come from ONE documents scan
    # (explode fan-out, not a self-union that reads the file twice),
    # and the only row-volume shuffle is the groupBy(h) — the global
    # 1-row rollup after it is free.
    text = inspect.plan_str(q(spark, "q_llm_split_leakage"))
    scans = [l for l in text.splitlines() if "FileScan parquet" in l]
    assert len(scans) == 1, f"expected one documents scan, saw {len(scans)}"
    wide = [l for l in text.splitlines() if "Exchange hashpartitioning" in l]
    assert len(wide) == 1, f"expected one wide shuffle, saw {len(wide)}"


def test_incremental_dedup_broadcasts_batch(spark):
    # Delta dedup's scale asymmetry: the ARRIVING batch is the
    # broadcast side of the band join, the standing corpus index never
    # shuffles for the probe. A shuffle-both-sides plan here would
    # rescan/move the 100 TB index for every daily batch.
    text = inspect.plan_str(q(spark, "q_llm_dedup_incremental"))
    assert "BroadcastHashJoin" in text
    assert "SortMergeJoin" not in text


def test_length_bucket_and_split_assign_are_scan_plus_agg(spark):
    # Both full-corpus statistics must stay join-free and window-free:
    # row-local expressions + ONE map-side-combined hash aggregate.
    for name in ("q_llm_length_bucket", "q_llm_split_assign"):
        text = inspect.plan_str(q(spark, name))
        assert "Join" not in text, name
        assert "Window" not in text, name
        assert "HashAggregate" in text, name


def test_unigram_logprob_broadcasts_vocab(spark):
    # The unigram vocabulary (Heaps-law sublinear) must broadcast back
    # onto the token explode: a shuffle join on the Zipf-hot token key
    # would be the classic skew trap at corpus scale.
    text = inspect.plan_str(q(spark, "q_llm_unigram_logprob"))
    assert "BroadcastHashJoin" in text
    assert "SortMergeJoin" not in text


def test_interval_overlap_rides_equi_key(spark):
    # The overlap inequality must be a residual inside the day
    # equi-key join — a BroadcastNestedLoopJoin here would mean
    # Catalyst failed to extract the equi key and the join is the
    # all-pairs cross product at scale.
    text = inspect.plan_str(q(spark, "q_join_interval_overlap"))
    assert "BroadcastNestedLoopJoin" not in text


def test_mode_counts_combine_map_side(spark):
    # The heavy (group, value) count must partial-aggregate before its
    # exchange; the rank then runs over aggregated rows only.
    text = inspect.plan_str(q(spark, "q_agg_mode"))
    assert "partial_count" in text


def test_sample_group_topk_pushes_rank_limit(spark):
    # Spark's WindowGroupLimit must push the rk <= k filter into the
    # window sort, so each stratum materializes k rows, not all rows.
    text = inspect.plan_str(q(spark, "q_sample_group_topk"))
    assert "WindowGroupLimit" in text


def test_interpolate_single_series_exchange(spark):
    # Both bracketing frames (past last_value / future first_value)
    # share partitioning AND ordering, so Spark must fuse them into
    # ONE Window node over ONE event_type-only exchange — a second
    # Window or series re-exchange would double the pass.
    import re

    text = inspect.plan_str(q(spark, "q_ts_interpolate"))
    assert text.count("Window [") == 1
    series_exchanges = re.findall(
        r"Exchange hashpartitioning\(event_type#\d+, \d+\)", text
    )
    assert len(series_exchanges) <= 1, series_exchanges


def test_unpivot_is_expand_no_extra_shuffle(spark):
    # DataFrame.unpivot must plan as a row-local Expand above the one
    # aggregation exchange — a generator that re-shuffles would turn a
    # map stage into a second wide dependency at 100 TB.
    import re

    text = inspect.plan_str(q(spark, "q_unpivot"))
    assert "Expand" in text
    assert len(re.findall(r"Exchange hashpartitioning", text)) == 1


def test_not_in_plans_null_aware_anti_join(spark):
    # NOT IN under a nullable probe list must become Spark's null-aware
    # anti join (the trailing `true` flag on the LeftAnti broadcast);
    # the IN branch a plain LeftSemi. If NAAJ degenerated to a
    # BroadcastNestedLoopJoin the key would silently stop scaling.
    text = inspect.plan_str(q(spark, "q_subquery_not_in"))
    assert "LeftAnti, BuildRight, true" in text
    assert "BroadcastNestedLoopJoin" not in text


def test_null_safe_join_stays_hash_based(spark):
    # <=> must keep a hash-family join (NULL hashes like any key);
    # nested-loop here would mean Catalyst failed to extract the
    # EqualNullSafe key and the join is all-pairs at scale.
    text = inspect.plan_str(q(spark, "q_join_null_safe"))
    assert "BroadcastNestedLoopJoin" not in text
    assert ("SortMergeJoin" in text) or ("BroadcastHashJoin" in text) or (
        "ShuffledHashJoin" in text
    )


def test_weighted_median_single_key_two_windows(spark):
    # Both window passes (running cum + per-group total) and the final
    # aggregation share the group key: at most 2 exchanges total, and
    # the answer never leaves the JVM.
    import re

    text = inspect.plan_str(q(spark, "q_agg_weighted_median"))
    assert text.count("Window") == 2
    assert len(re.findall(r"Exchange hashpartitioning", text)) <= 2
    assert "BatchEvalPython" not in text and "ArrowEvalPython" not in text


def test_running_distinct_two_exchanges_max(spark):
    # The (user_id, event_type) first-occurrence pass and the user_id
    # running-sum pass are distinct partitionings — 2 exchanges is the
    # contract; a collect_set rewrite would add per-row set state.
    import re

    text = inspect.plan_str(q(spark, "q_win_running_distinct"))
    assert text.count("Window") == 2
    assert len(re.findall(r"Exchange hashpartitioning", text)) <= 2


def test_asof_nearest_no_nested_loop(spark):
    # Nearest = two union-window carries + an equi self-join on the
    # unique purchase id; any BroadcastNestedLoopJoin would mean the
    # range-join explosion this construction exists to avoid.
    text = inspect.plan_str(q(spark, "q_join_asof_nearest"))
    assert "BroadcastNestedLoopJoin" not in text
    assert text.count("Window") == 2


def test_url_normalize_pure_jvm_single_agg(spark):
    # Canonicalization is all JVM column math; the only wide deps are
    # the canonical-url aggregation's two-phase distinct (2 exchanges).
    import re

    text = inspect.plan_str(q(spark, "q_llm_url_normalize"))
    assert "BatchEvalPython" not in text and "ArrowEvalPython" not in text
    assert "Join" not in text
    assert len(re.findall(r"Exchange hashpartitioning", text)) <= 2


def test_containment_candidates_equi_never_all_pairs(spark):
    # Candidate pairs must come from the shared-shingle EQUI join
    # (inverted index) — a nested-loop anywhere means the doc_id < x
    # inequality became the join itself and the op is all-pairs.
    text = inspect.plan_str(q(spark, "q_llm_ngram_containment"))
    assert "BroadcastNestedLoopJoin" not in text
    assert "EvalPython" not in text


def test_passage_dedup_shuffles_hashes_only(spark):
    # Passages are cut row-locally (Generate above the scan); both wide
    # deps key on the md5 hash. No Python, no nested loop, and the
    # text column must not survive into any Exchange.
    text = inspect.plan_str(q(spark, "q_llm_passage_dedup"))
    assert "Generate" in text
    assert "BroadcastNestedLoopJoin" not in text
    assert "EvalPython" not in text


def test_histogram_quantile_bounds_broadcast(spark):
    # The 1-row bounds crossJoin must broadcast (the q_agg_histogram
    # pattern) — BroadcastNestedLoopJoin with a 1-row build side IS the
    # right plan; what must never appear is a shuffled bounds join or
    # Python. Sketch + merge + final stay within 4 exchanges.
    import re

    text = inspect.plan_str(q(spark, "q_agg_histogram_quantile"))
    assert "BroadcastExchange" in text
    assert "EvalPython" not in text
    assert len(re.findall(r"Exchange hashpartitioning", text)) <= 4


def test_q2_argmin_decorrelates_to_aggregate_join(spark):
    # The correlated min(supplycost) subquery must decorrelate into a
    # per-part aggregate + equi join: the plan re-aggregates the
    # bridge, it never re-executes the subquery per row (no nested
    # loop) and the dims stay broadcast.
    text = inspect.plan_str(q(spark, "q_tpch_q2"))
    assert "BroadcastNestedLoopJoin" not in text
    assert "BroadcastHashJoin" in text
    assert "partial_min" in text


def test_q9_star_dims_broadcast_one_fact_shuffle(spark):
    # 5-way star: part/supplier/nation broadcast; the only shuffle
    # pair joins lineitem x orders on orderkey, plus one tiny exchange
    # for the nation x year final agg.
    import re

    text = inspect.plan_str(q(spark, "q_tpch_q9"))
    assert text.count("BroadcastHashJoin") >= 3
    assert len(re.findall(r"Exchange hashpartitioning", text)) <= 3


def test_q11_value_cte_single_scalar_fold(spark):
    # The value CTE feeds both the main branch and the scalar
    # threshold; the threshold side must reduce to a 1-row aggregate
    # folded into the filter (Subquery/scalar), never a join of the
    # aggregate against itself per row.
    text = inspect.plan_str(q(spark, "q_tpch_q11"))
    assert "BroadcastNestedLoopJoin" not in text
    assert "Subquery" in text or "ReusedExchange" in text or "scalar-subquery" in text


def test_q20_nested_in_becomes_semi_chain(spark):
    # Both IN subqueries must plan as semi joins (part list broadcast
    # into lineitem; qualifying suppliers semi-join the dim), with the
    # date range pushed to the lineitem scan.
    text = inspect.plan_str(q(spark, "q_tpch_q20"))
    assert "LeftSemi" in text
    assert "BroadcastNestedLoopJoin" not in text
    li_scan = [
        ln for ln in text.splitlines()
        if "PushedFilters" in ln and "l_shipdate" in ln
    ]
    assert li_scan


def test_semdedup_bucket_equi_join_no_python(spark):
    # The pair space must come from the bucket EQUI join (id inequality
    # as residual) — a nested loop would mean all-pairs — and bucket
    # assignment is JVM HOF math, so no Python evaluator anywhere.
    text = inspect.plan_str(q(spark, "q_llm_semdedup"))
    assert "BroadcastNestedLoopJoin" not in text
    assert "EvalPython" not in text


def test_heavy_hitters_recount_broadcasts_candidates(spark):
    # r17 shape: both passes are Arrow kernels over the text column
    # (the interpreted-HOF gram stream, the explodes, the xxhash
    # projection and the pass-2 broadcast join are gone); the one
    # exchange carries candidate partial counts, partial-aggregated
    # map-side under the global top-k.
    text = inspect.plan_str(q(spark, "q_agg_heavy_hitters"))
    assert "MapInArrow" in text
    assert "partial_sum" in text or "partial_" in text
    assert "TakeOrderedAndProject" in text
    assert "BroadcastHashJoin" not in text
    assert "xxhash64" not in text
    assert "Generate" not in text  # no explode of the gram stream


def test_skew_salted_two_stage_partials(spark):
    # Both reduction stages must partial-aggregate map-side, and the
    # salted stage's exchange must hash on (key, salt) — the whole
    # point is that no single reducer ever owns a full hot key.
    text = inspect.plan_str(q(spark, "q_agg_skew_salted"))
    assert "partial_sum" in text
    assert "salt" in text  # salt survives into the first exchange key


def test_rolling_corr_single_series_exchange(spark):
    # row_number and the three frame aggregates share the same
    # partition/order spec, so the plan must contain exactly ONE
    # shuffle exchange (on event_type) — a second exchange would mean
    # the window specs failed to align and the series is re-shuffled
    # per aggregate.
    text = inspect.plan_str(q(spark, "q_ts_rolling_corr"))
    assert text.count("Exchange hashpartitioning") == 1


def test_dq_profile_single_scan(spark):
    # Six constraints, ONE pass: the plan must scan orders exactly
    # once (the mixed-distinct rewrite Expands the stream but must not
    # re-read it) and the verdict unpivot must ride a 1-row frame.
    text = inspect.plan_str(q(spark, "q_dq_profile"))
    assert text.count("Scan parquet") == 1
    assert "partial_count" in text or "partial_min" in text


def test_pmi_vocab_broadcasts_topk_takeordered(spark):
    # Both unigram rejoins must broadcast the vocabulary (Heaps-law
    # small), the totals must fold in as 1-row broadcasts, and the
    # final cut must be a TakeOrdered, never a global sort.
    text = inspect.plan_str(q(spark, "q_llm_pmi_bigrams"))
    assert "BroadcastHashJoin" in text or "BroadcastExchange" in text
    assert "TakeOrderedAndProject" in text
    assert "SortMergeJoin" not in text


def test_entropy_two_combined_aggs_no_join(spark):
    # Pure aggregation pipeline: (doc, token) counts then the per-doc
    # entropy fold — both must partial-aggregate map-side and there
    # must be no join anywhere.
    text = inspect.plan_str(q(spark, "q_llm_entropy"))
    assert "partial_count" in text
    assert "Join" not in text


def test_feature_hash_single_agg_no_shuffle_for_tf(spark):
    # The tf denominator rides the row (computed before the explode),
    # so the whole key is ONE map-side-combined aggregation — a second
    # exchange would mean the normalization added a join or window.
    text = inspect.plan_str(q(spark, "q_llm_feature_hash"))
    assert text.count("Exchange hashpartitioning") == 1
    assert "Join" not in text


def test_ewma_one_series_exchange_row_local_fold(spark):
    # One exchange on the series key; the weighted fold is row-local
    # HOF arithmetic over the 16-row frame — no join, no Python.
    text = inspect.plan_str(q(spark, "q_ts_ewma"))
    assert text.count("Exchange hashpartitioning") == 1
    assert "Join" not in text
    assert "BatchEvalPython" not in text and "ArrowEvalPython" not in text


def test_bigram_lm_context_broadcast_probe_shuffle(spark):
    # The unigram context table and the 1-row vocab must broadcast;
    # the bigram-count probe is the one legitimate wide join.
    text = inspect.plan_str(q(spark, "q_llm_bigram_lm"))
    assert "BroadcastHashJoin" in text or "BroadcastExchange" in text
    assert "partial_count" in text


def test_merge_upsert_source_preaggregated_no_bnlj(spark):
    # MERGE precondition: the source must reach every branch already
    # key-unique (aggregated), and every branch join is an equi join —
    # a nested-loop anywhere means the merge key was lost.
    text = inspect.plan_str(q(spark, "q_merge_upsert"))
    assert "BroadcastNestedLoopJoin" not in text
    assert "partial_count" in text


def test_source_overlap_one_shuffle_no_selfjoin(spark):
    # r15: the shingle self-join is GONE. The grouped (h -> sources)
    # build is ONE collect_set shuffle over the shingle stream, the
    # key reads it through a lazy checkpoint shared by all three legs
    # (pairs + both totals — Catalyst does NOT reuse the exchange
    # across the re-aliased subtrees, verified), and pairs are
    # generated row-locally from the source set.
    from sparkstreamingtohdfsofsensorsdata_spark.llm.contamination import (
        _source_shingle_groups,
    )
    from sparkstreamingtohdfsofsensorsdata_spark.tables import load

    build = inspect.plan_str(
        _source_shingle_groups(
            load(spark, SF, "documents").filter(F.col("text").isNotNull())
        )
    )
    assert "collect_set" in build and build.count("Exchange hashpartitioning") == 1
    text = inspect.plan_str(q(spark, "q_llm_source_overlap"))
    assert "BroadcastNestedLoopJoin" not in text
    assert "SortMergeJoin" not in text, "shingle self-join resurfaced"
    assert "Exchange hashpartitioning(h#" not in text, (
        "shingle shuffle leaked past the shared checkpoint"
    )
    # exactly the two tiny totals joins remain
    n_joins = sum(
        text.count(j)
        for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )
    assert n_joins == 2, f"expected only the totals joins, saw {n_joins}"


def test_cusum_one_series_exchange_stats_broadcast(spark):
    # Per-series moments broadcast back onto the stream (1 row per
    # series); both window passes ride ONE exchange on the series key.
    text = inspect.plan_str(q(spark, "q_ts_cusum"))
    assert "BroadcastHashJoin" in text or "BroadcastExchange" in text
    assert text.count("Exchange hashpartitioning") <= 2


def test_centroid_stats_broadcasts_small_tables(spark):
    # The centroid (|labels| x dim) and norm (|labels|) tables must
    # broadcast back onto the exploded dimension stream — a shuffle
    # join here would move the corpus twice.
    text = inspect.plan_str(q(spark, "q_embed_centroid_stats"))
    assert "BroadcastHashJoin" in text
    assert "SortMergeJoin" not in text


def test_peak_detect_one_window_pass_stats_broadcast(spark):
    # lag + lead share one window spec (one exchange + sort); the
    # moment floor broadcasts.
    text = inspect.plan_str(q(spark, "q_ts_peak_detect"))
    assert "BroadcastHashJoin" in text or "BroadcastExchange" in text
    assert text.count("Exchange hashpartitioning") <= 2


def test_seasonal_profile_broadcast_never_shuffles_stream(spark):
    # The 24-slot profile must broadcast back onto the event stream;
    # the stream itself must never hash-exchange for the join.
    text = inspect.plan_str(q(spark, "q_ts_seasonal_hod"))
    assert "BroadcastHashJoin" in text
    assert "SortMergeJoin" not in text


def test_median_filter_slice_stays_above_window(spark):
    # The event_id % 5 output slice must evaluate ABOVE the Window
    # operator — pushed below it, every frame would lose 4/5 of its
    # neighbors and the medians would be wrong, not just slow.
    df = q(spark, "q_ts_median_filter")
    text = inspect.plan_str(df)
    w = text.find("Window")
    f = text.find("% 5) = 0")
    assert w != -1 and f != -1 and f < w  # filter printed above Window


def test_decimal_exact_partial_agg(spark):
    # Decimal sums must still combine map-side — exactness is free,
    # not a license to skip the partial aggregate.
    text = inspect.plan_str(q(spark, "q_agg_decimal_exact"))
    assert "partial_sum" in text


def test_variant_row_local_pushdown(spark):
    # VARIANT extraction is row-local: no shuffle anywhere, and the id
    # slice is a real Filter in the scan stage (a modulo predicate is
    # not parquet-translatable, so PushedFilters only carries the
    # derived IsNotNull — asserting on it would be vacuous).
    df = q(spark, "q_fn_variant")
    text = inspect.plan_str(df)
    assert "Exchange" not in text
    assert "% 9) = 0" in text


def test_bloom_runtime_filter_injected_on_fact_side(spark):
    # Under the scoped confs the optimized plan must carry a bloom
    # might_contain probe on the lineitem (fact) side — proof the
    # InjectRuntimeFilter rewrite fired where broadcast was unavailable.
    from sparkstreamingtohdfsofsensorsdata_spark.operators.joins import (
        _bloom_join_frame,
        bloom_confs_scoped,
    )

    with bloom_confs_scoped(spark):
        text = inspect.plan_str(_bloom_join_frame(spark, SF))
    assert "might_contain" in text
    assert "bloom_filter_agg" in text


def test_winnowing_entirely_row_local(spark):
    # Four chained HOFs in projections — the plan must contain no
    # exchange and no Python evaluator at all.
    text = inspect.plan_str(q(spark, "q_llm_winnowing"))
    assert "Exchange" not in text
    assert "BatchEvalPython" not in text and "ArrowEvalPython" not in text


def test_string_agg_partial_buffers(spark):
    # listagg must still plan a partial (map-side) aggregate — the
    # ordered buffer merges, it doesn't force a single-stage agg.
    text = inspect.plan_str(q(spark, "q_agg_string_agg"))
    assert "partial_listagg" in text  # listagg-specific, not any partial
    assert "Exchange hashpartitioning" in text


def test_autocorr_one_window_pass_then_one_agg(spark):
    # Both lags share one window spec, the unpivot is a row-local
    # Generate, AND the final (event_type, lag_k) aggregation reuses
    # the window's event_type partitioning (superset-key clustering) —
    # exactly ONE exchange in the whole plan.
    text = inspect.plan_str(q(spark, "q_ts_autocorr"))
    assert text.count("Exchange hashpartitioning") == 1
    assert "Generate explode" in text


def test_scan_binary_reduces_blobs_row_locally(spark):
    # The binary content must reduce (md5/length) before any exchange —
    # blobs never cross a shuffle.
    text = inspect.plan_str(q(spark, "q_scan_binary"))
    assert "Exchange" not in text


def test_csv_roundtrip_explicit_schema_no_infer_pass(spark):
    # Schema-on-read: exactly ONE csv scan in the plan (inferSchema
    # would add a hidden full extra pass) and a map-side partial agg.
    text = inspect.plan_str(q(spark, "q_sink_csv_roundtrip"))
    assert text.count("Scan csv") == 1
    assert "partial_count" in text


# --- round-9 additions: graph / governance / corpus diagnostics ---


def test_kanonymity_is_pure_two_level_agg(spark):
    # One QI groupBy then a per-segment rollup: both aggs must combine
    # map-side, and the plan must stay Python-free (no UDF in a DQ
    # gate that scans the whole table).
    df = q(spark, "q_anon_kanonymity")
    assert inspect.has_partial_aggregation(df)
    assert "Python" not in inspect.plan_str(df)


def test_zipf_single_window_exchange(spark):
    # The rank window partitions by source; the regression agg groups
    # by source again — Spark must not add a second exchange for the
    # agg (superset-key clustering reuse, the q_ts_autocorr property).
    plan = inspect.plan_str(q(spark, "q_llm_zipf_slope"))
    n_exchanges = plan.count("Exchange hashpartitioning")
    # one for (source, t) freq agg, one for the source window; the
    # final agg must reuse the window's partitioning
    assert n_exchanges <= 2, plan
    assert "Python" not in plan


def test_graph_pagerank_stays_jvm_side(spark):
    # Iterative kernel: every round is joins + aggs — any Python eval
    # in the loop would multiply by the round count.
    df = q(spark, "q_graph_pagerank")
    assert "Python" not in inspect.plan_str(df)


def test_dup_ngram_coverage_shuffles_hashes_not_text(spark):
    # The shingle-frequency join must key on the 16-byte md5, and the
    # raw text column must be pruned before any exchange.
    plan = inspect.plan_str(q(spark, "q_llm_dup_ngram_coverage"))
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line


def test_graph_bfs_stays_jvm_side(spark):
    assert "Python" not in inspect.plan_str(q(spark, "q_graph_bfs"))


def test_asof_tolerance_single_user_exchange_no_join(spark):
    # The union-window as-of core: ONE exchange on user_id, ZERO join
    # operators — the property that keeps it linear where a range join
    # would explode (same gate as q_join_asof).
    plan = inspect.plan_str(q(spark, "q_join_asof_tolerance"))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_moments_partial_aggregation(spark):
    assert inspect.has_partial_aggregation(q(spark, "q_agg_moments"))


def test_label_separation_centroids_broadcast(spark):
    # the (label, pos) and (pos) centroid tables are dim-bounded and
    # must broadcast back onto the exploded stream, never shuffle it
    assert inspect.has_broadcast_join(q(spark, "q_embed_label_separation"))


def test_vocab_growth_spine_window_partitioned(spark):
    # The Heaps-curve prefix sums must never sort the unbounded bucket
    # spine in a single partition (VERDICT r9 item 5): every window
    # whose ordering touches the spine (bucket) must carry the chunk
    # partition column, and the only unpartitioned window may ride the
    # AGGREGATED chunk-total table (spine/VOCAB_CHUNK_BUCKETS rows by
    # construction). The chunk offsets broadcast back onto the spine.
    import re

    df = q(spark, "q_llm_vocab_growth")
    text = inspect.plan_str(df)
    wspecs = re.findall(r"windowspecdefinition\([^)]*\)", text)
    spine = [s for s in wspecs if "bucket" in s]
    assert spine, "expected a window ordered over the bucket spine"
    for s in spine:
        assert re.match(r"windowspecdefinition\(chunk#\d+L?, bucket", s), (
            f"spine window lost its chunk partition: {s}"
        )
    assert inspect.has_broadcast_join(df)


def test_gini_spine_window_partitioned_offsets_broadcast(spark):
    # The Gini rank is the same two-level pattern as vocab_growth: every
    # window whose ordering touches spend must carry the chunk partition
    # column (never a 5-partition sort of all customers), and the chunk
    # offsets broadcast back onto the spine.
    import re

    df = q(spark, "q_agg_gini")
    text = inspect.plan_str(df)
    wspecs = re.findall(r"windowspecdefinition\([^)]*\)", text)
    spine = [s for s in wspecs if "spend_cents" in s or "c_custkey" in s]
    assert spine, "expected a window ordered over the spend spine"
    for s in spine:
        assert re.search(r"_?chunk\d*#", s.split("ASC")[0]), (
            f"spine window lost its chunk partition: {s}"
        )
    assert inspect.has_broadcast_join(df)


def test_kcore_stays_jvm_side(spark):
    # Iterative peel: every round is semi-joins + aggs — any Python
    # eval in the loop would multiply by the round count.
    assert "Python" not in inspect.plan_str(q(spark, "q_graph_kcore"))


def test_fuzzy_block_equi_join_no_cartesian(spark):
    # Blocking is the point: the pair join must be hash/merge on the
    # block key, never BroadcastNestedLoop/cartesian over the names.
    plan = inspect.plan_str(q(spark, "q_join_fuzzy_block"))
    assert "CartesianProduct" not in plan, plan
    # the lev predicate may ride the equi-join as a post-condition; the
    # block equality must appear as a join key, i.e. some hash-based
    # join exists
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan), plan


def test_sample_weighted_filter_before_exchange(spark):
    # The weighted Bernoulli predicate is row-pure: it must evaluate in
    # the scan stage, before the single group-by exchange — the sample
    # never shuffles unkept rows.
    plan = inspect.plan_str(q(spark, "q_sample_weighted"))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    f = plan.find("Filter")
    e = plan.find("Exchange")
    assert f != -1 and e != -1 and f > e  # printed below the exchange = runs first


def test_dq_rules_row_rules_share_one_aggregate(spark):
    # The four row-local rules are conditional sums in ONE aggregate —
    # adding a rule must not add a scan. (The referential rule is its
    # own anti-join probe by design.)
    plan = inspect.plan_str(q(spark, "q_dq_rules"))
    assert "partial_sum" in plan


def test_pareto_spine_window_partitioned_offsets_broadcast(spark):
    # Same two-level contract as q_agg_gini, descending orientation:
    # spine windows carry the chunk partition, offsets broadcast.
    import re

    df = q(spark, "q_agg_pareto")
    text = inspect.plan_str(df)
    wspecs = re.findall(r"windowspecdefinition\([^)]*\)", text)
    spine = [s for s in wspecs if "neg_spend" in s or "c_custkey" in s]
    assert spine, "expected a window ordered over the spend spine"
    for s in spine:
        assert re.search(r"_?chunk\d*#", s.split("ASC")[0]), (
            f"spine window lost its chunk partition: {s}"
        )
    assert inspect.has_broadcast_join(df)


def test_assortativity_stays_jvm_side_single_agg(spark):
    # Exact integer power sums: one aggregate over the edge-pair join,
    # no Python, no window.
    plan = inspect.plan_str(q(spark, "q_graph_assortativity"))
    assert "Python" not in plan
    assert "Window" not in plan
    assert "partial_sum" in plan


def test_basket_pairs_topk_is_take_ordered(spark):
    # The top-k cut must be TakeOrderedAndProject over the aggregated
    # pair table — a global Sort here would single-partition the pair
    # stream; and no BNLJ: the 1-row basket total is the ONLY allowed
    # nested-loop build side.
    df = q(spark, "q_agg_basket_pairs")
    assert inspect.has_take_ordered(df)
    text = inspect.plan_str(df)
    assert "CartesianProduct" not in text


def test_drawdown_windows_are_chunk_bounded(spark):
    # Both running statistics ride windows partitioned by (type, chunk)
    # — a window partitioned by event_type alone would put the whole
    # table in 5 partitions. The chunk offsets come back via broadcast.
    import re

    df = q(spark, "q_ts_drawdown")
    text = inspect.plan_str(df)
    assert inspect.has_broadcast_join(df)
    wspecs = re.findall(r"windowspecdefinition\([^)]*\)", text)
    row_specs = [s for s in wspecs if "event_id" in s]
    assert row_specs, "expected row-level windows ordered by event_id"
    for s in row_specs:
        assert "chunk" in s, f"row-level window lost its chunk partition: {s}"


def test_local_clustering_topk_is_take_ordered(spark):
    df = q(spark, "q_graph_local_clustering")
    assert inspect.has_take_ordered(df)


def test_count_min_probe_broadcasts_sketch(spark):
    # The 1024-cell sketch must be the broadcast build side of the
    # probe join; the sketch build must partially aggregate map-side.
    df = q(spark, "q_agg_count_min")
    assert inspect.has_broadcast_join(df)
    assert inspect.has_partial_aggregation(df)


def test_spatial_grid_join_is_equi_on_cells(spark):
    # The neighbor-cell probe must be a hash/sort-merge EQUI join on
    # (cx, cy) — a BNLJ or cartesian here means the blocking failed and
    # the key degrades to all-pairs; top-k must be TakeOrdered.
    df = q(spark, "q_join_spatial_grid")
    text = inspect.plan_str(df)
    assert "BroadcastNestedLoopJoin" not in text
    assert "CartesianProduct" not in text
    assert inspect.has_take_ordered(df)


def test_curriculum_rank_windows_are_chunk_bounded(spark):
    import re

    df = q(spark, "q_llm_curriculum")
    text = inspect.plan_str(df)
    wspecs = re.findall(r"windowspecdefinition\([^)]*\)", text)
    spine = [s for s in wspecs if "doc_id" in s or "difficulty" in s]
    assert spine, "expected rank windows over the difficulty spine"
    for s in spine:
        assert re.search(r"_?chunk\d*#", s.split("ASC")[0]), (
            f"rank window lost its chunk partition: {s}"
        )


def test_view_chain_inlines_and_pushes_down(spark):
    # Views are analysis-time macros: the part filter declared three
    # view layers up must still reach the parquet scan as a pushed
    # filter, and the fused plan must broadcast the dim side.
    df = q(spark, "q_sql_view_chain")
    assert inspect.has_pushed_filters(df, "p_size")
    assert inspect.has_broadcast_join(df)


def test_lateral_decorrelates_to_group_limit(spark):
    """q_sql_lateral_join's ORDER BY + LIMIT lateral must not execute
    per outer row: Catalyst decorrelates it to a WindowGroupLimit
    (rank pushed BELOW the shuffle as a partial) feeding a broadcast
    join — the plan that scales. A CartesianProduct or a re-executed
    subquery here would be the 100x disaster this gate exists for."""
    s = inspect.plan_str(q(spark, "q_sql_lateral_join"))
    assert "WindowGroupLimit" in s
    assert "BroadcastHashJoin" in s
    assert "CartesianProduct" not in s


def test_concurrency_sweep_windows_are_chunk_bounded(spark):
    """q_events_concurrency's data-sized running sum must stay on the
    (day, chunk) two-level decomposition: every Window node that orders
    the boundary points carries `chunk` in its partition spec, so no
    whole-day single-partition window survives a refactor."""
    s = inspect.plan_str(q(spark, "q_events_concurrency"))
    point_windows = [
        line
        for line in s.splitlines()
        if "Window [" in line and "t#" in line and "delta" in line
    ]
    assert point_windows, "boundary-point window vanished from the plan"
    assert all("chunk" in line for line in point_windows)


def test_argmax_aggregates_map_side(spark):
    """q_agg_argmax's whole point at scale: max_by moves one (key,
    value) pair per partition per group through the shuffle — i.e. a
    partial_max_by must appear below the exchange."""
    assert inspect.has_partial_aggregation(q(spark, "q_agg_argmax"))


def test_rollup_cascade_two_grain_exchanges(spark):
    """q_ts_rollup_cascade (r13): the cascade is exactly TWO shuffles —
    one on (type, minute), one on (type, hour) over the pre-aggregate —
    and both tiers combine map-side. A third exchange would mean the
    hour tier re-scanned raw instead of the minute table."""
    df = q(spark, "q_ts_rollup_cascade")
    s = inspect.plan_str(df)
    assert s.count("Exchange") == 2
    assert inspect.has_partial_aggregation(df)


def test_sql_pivot_is_one_aggregation_no_join(spark):
    """q_sql_pivot (r13): PIVOT must compile to a pivot aggregation
    (__pivot_* accessors in the projection), never a per-value
    self-join of the fact table."""
    df = q(spark, "q_sql_pivot")
    s = inspect.plan_str(df)
    assert "__pivot_" in s
    assert "Join" not in s
    assert inspect.has_partial_aggregation(df)


def test_grouped_arrow_single_exchange(spark):
    """q_udf_grouped_arrow (r13): the Arrow grouped-map is one hash
    exchange on the brand key feeding FlatMapGroupsInArrow — no second
    shuffle, no pandas conversion node."""
    df = q(spark, "q_udf_grouped_arrow")
    s = inspect.plan_str(df)
    assert "FlatMapGroupsInArrow" in s
    assert s.count("Exchange") == 1
    assert "FlatMapGroupsInPandas" not in s


def test_python_ds_partition_planning(spark):
    """q_scan_python_ds (r13): the Python DataSource fans the
    monolithic fixture out to PYDS_FANOUT decode slices (a multi-group
    file gets one partition per row group — tests/test_python_ds.py),
    and the aggregation on top combines map-side."""
    from sparkstreamingtohdfsofsensorsdata_spark.sources.python_ds import (
        PYDS_FANOUT,
        events_pyds,
    )

    assert events_pyds(spark, SF).rdd.getNumPartitions() == PYDS_FANOUT
    assert inspect.has_partial_aggregation(q(spark, "q_scan_python_ds"))


def test_pseudonym_projection_pruning_and_partial_agg(spark):
    """q_anon_pseudonym (r13): the surrogate projection must not widen
    the scans — customer reads exactly (custkey, mktsegment), orders
    exactly (custkey, totalprice) — and the audit agg combines
    map-side before its shuffle."""
    df = q(spark, "q_anon_pseudonym")
    cols = inspect.read_schema_columns(df)
    flat = sorted(c for cs in cols for c in cs)
    assert flat == [
        "c_custkey",
        "c_mktsegment",
        "o_custkey",
        "o_totalprice",
    ]
    assert inspect.has_partial_aggregation(df)


def test_power_users_rank_is_chunk_bounded(spark):
    """q_events_power_users (r13): the global (count desc, id) rank
    must ride the two-level chunked ranking — the per-row window is
    partitioned by chunk keys, and the chunk offsets come back via a
    broadcast — never one all-rows sort partition."""
    import re

    df = q(spark, "q_events_power_users")
    text = inspect.plan_str(df)
    assert inspect.has_broadcast_join(df)
    wspecs = re.findall(r"windowspecdefinition\([^)]*\)", text)
    row_specs = [s for s in wspecs if "user_id" in s and "neg_n" in s]
    assert row_specs, "expected row-level windows ordered by (neg_n, user_id)"
    for s in row_specs:
        assert "chunk" in s, f"row-level rank lost its chunk partition: {s}"


def test_week_over_week_window_rides_small_aggregate(spark):
    """q_ts_week_over_week (r13): the lag window is partitioned by
    priority and runs over the weekly PRE-AGGREGATE (post-shuffle
    aggregate rows, bounded at priorities x weeks) — the plan must
    aggregate before the window, and the window spec must carry the
    priority partition."""
    df = q(spark, "q_ts_week_over_week")
    text = inspect.plan_str(df)
    assert inspect.has_partial_aggregation(df)
    assert "windowspecdefinition(o_orderpriority" in text


# --- round-14 additions: adjacency-array graph layout + SQL surface ---


def test_pagerank_rounds_explode_not_edge_join(spark):
    """r14 array layout: every PageRank round must re-expand the edge
    stream via explode(ns) INSIDE the stage (Generate), never by
    joining / shuffling the E-row edge table — the per-round join is
    node-sized vs node-sized. Gate: the plan carries one Generate per
    round and no exchange keyed on the raw edge columns."""
    df = q(spark, "q_graph_pagerank")
    text = inspect.plan_str(df)
    from sparkstreamingtohdfsofsensorsdata_spark.operators.graph import (
        PAGERANK_ROUNDS,
    )

    assert text.count("Generate explode") >= PAGERANK_ROUNDS, text[:2000]
    assert "Python" not in text


def test_bfs_rounds_explode_not_edge_join(spark):
    """r14: the per-round localCheckpoint hides earlier rounds in the
    kernel's final plan, so gate the REAL relax-round builder the
    kernel calls (graph._bfs_relax) directly."""
    from pyspark.sql import functions as F

    from sparkstreamingtohdfsofsensorsdata_spark.operators import graph

    adj = graph.adj_arrays(spark, SF)
    dist = graph.degree_table(spark, SF).select(
        "node", F.when(F.col("node") % 2 == 0, F.lit(0)).alias("dist")
    )
    text = inspect.plan_str(graph._bfs_relax(adj, dist))
    assert "Generate explode" in text
    assert inspect.has_partial_aggregation(graph._bfs_relax(adj, dist))
    assert "Python" not in text


def test_lpa_rounds_explode_and_packed_vote(spark):
    """r14: LPA rounds 2+ explode the adjacency arrays; the vote
    winner stays the packed BIGINT max_by. The assert_true LPA_PACK
    guard is verified behaviorally below (plan toString truncates the
    packed expression, so a string assert would be vacuous)."""
    text = inspect.plan_str(q(spark, "q_graph_label_propagation"))
    assert "Generate explode" in text
    assert "max_by" in text
    assert "Python" not in text


def test_lpa_pack_guard_raises_loudly(spark):
    """ADVICE r13: the exact guard expression LPA compiles in must
    RAISE on a violated precondition (label >= LPA_PACK or count
    within 2^63/LPA_PACK of overflow), not wrap silently. The guard
    string is IMPORTED from the kernel module (ADVICE r14: a verbatim
    copy here kept passing while the kernel's bound could drift), so
    this test exercises the exact expression the kernel compiles in."""
    import pytest

    from sparkstreamingtohdfsofsensorsdata_spark.operators.graph import (
        LPA_PACK,
        LPA_PACK_GUARD as guard,
    )

    ok = spark.createDataFrame(
        [(5, 3)], "nl long, c long"
    ).selectExpr(f"cast(c as bigint) * {LPA_PACK} - nl + {guard} as k")
    assert ok.collect()[0].k == 3 * LPA_PACK - 5
    bad = spark.createDataFrame(
        [(LPA_PACK, 3)], "nl long, c long"
    ).selectExpr(f"cast(c as bigint) * {LPA_PACK} - nl + {guard} as k")
    with pytest.raises(Exception, match="LPA_PACK|assert"):
        bad.collect()
    # the count bound is the other half of the precondition
    overflow = spark.createDataFrame(
        [(5, 9223372)], "nl long, c long"
    ).selectExpr(f"cast(c as bigint) * {LPA_PACK} - nl + {guard} as k")
    with pytest.raises(Exception, match="LPA_PACK|assert"):
        overflow.collect()
    # and the kernel source actually compiles that shared constant in
    import inspect as pyinspect

    from sparkstreamingtohdfsofsensorsdata_spark.operators import graph

    # the registry decorator hides the function body; pin the guard in
    # the module source's LPA region instead
    src = pyinspect.getsource(graph)
    lpa_body = src.split("def q_graph_label_propagation")[1].split("\n@query")[0]
    assert "LPA_PACK_GUARD" in lpa_body and "max_by" in lpa_body


def test_triangle_corners_are_array_intersection(spark):
    """r14: the corner table is built by forward-array INTERSECTION —
    the plan must show array_intersect feeding a Generate, and no
    third self-join of the oriented edge list (two joins annotate the
    arrays; the old closing wedge join is gone)."""
    from sparkstreamingtohdfsofsensorsdata_spark import shared
    from sparkstreamingtohdfsofsensorsdata_spark.operators.graph import (
        triangle_node_counts,
    )

    shared.clear(spark, "q_graph_triangles")
    # inspect the UNCHECKPOINTED build plan by reproducing it pre-memo:
    # the memoized handle is a LogicalRDD that hides the build
    df = triangle_node_counts(spark, SF)
    # the memo returns a checkpointed frame; the build already ran.
    # Re-derive the builder plan via the public pieces instead:
    from sparkstreamingtohdfsofsensorsdata_spark.operators import graph
    from pyspark.sql import functions as F

    edges = graph.copurchase_edges(spark, SF)
    orient, _, _ = graph.triangle_orientation(spark, SF)
    oriented = graph._oriented_edges(edges, orient)
    fwd = oriented.groupBy("src").agg(F.collect_list("dst").alias("ns"))
    fa = fwd.select(F.col("src").alias("a2"), F.col("ns").alias("ns_a"))
    fb = fwd.select(F.col("src").alias("b2"), F.col("ns").alias("ns_b"))
    build = (
        oriented.join(fa, oriented["src"] == fa["a2"])
        .join(fb, oriented["dst"] == fb["b2"])
        .select(
            F.explode(F.array_intersect("ns_a", "ns_b")).alias("c")
        )
    )
    text = inspect.plan_str(build)
    assert "array_intersect" in text
    assert "Generate explode" in text
    # r16: the memoized table is the FOLDED per-node incidence count
    # (node-sized checkpoint), not the raw corner stream — the 18.8M-row
    # corner checkpoint dominated the sf1 build
    assert df.columns == ["node", "n_tri"]


def test_lateral_df_decorrelates_to_one_join(spark):
    """q_join_lateral_df: Catalyst must decorrelate the ORDER BY +
    LIMIT lateral into a window/rank over ONE join against the 25-row
    nation side — never a per-outer-row re-execution (no nested-loop
    of subplans), and the whole plan stays JVM-side."""
    df = q(spark, "q_join_lateral_df")
    text = inspect.plan_str(df)
    assert text.count("Join") <= 2, text[:1500]
    assert "windowspecdefinition" in text or "RowNumber" in text
    assert "Python" not in text


def test_sql_scalar_udf_inlines_to_one_aggregate(spark):
    """q_sql_scalar_udf: SQL UDFs must be INLINED — the executed plan
    is a map-side-combined hash aggregate over the scan with zero
    Python and no function-call boundary."""
    df = q(spark, "q_sql_scalar_udf")
    assert inspect.has_partial_aggregation(df)
    text = inspect.plan_str(df)
    assert "Python" not in text
    assert "FLOOR(" in text.upper()  # disc_cents body compiled into the agg


def test_distribute_by_single_exchange_per_leg(spark):
    """q_sql_distribute_by: each layout clause inserts its Exchange;
    the downstream aggregate must REUSE that partitioning on the
    DISTRIBUTE BY o_orderpriority leg rather than add its own."""
    df = q(spark, "q_sql_distribute_by")
    text = inspect.plan_str(df)
    # legs: priority repartition (reused by agg), custkey cluster leg,
    # plus the final join's own exchanges — the gate is that the
    # priority agg does NOT re-exchange after REPARTITION(priority)
    assert "REPARTITION_BY_COL" in text or "hashpartitioning(o_orderpriority" in text
    assert "Python" not in text


def test_tablesample_is_scan_side(spark):
    """q_sql_tablesample: the PERCENT legs must plan as Sample over
    the scan (no shuffle before sampling)."""
    text = inspect.plan_str(q(spark, "q_sql_tablesample"))
    assert "Sample" in text
    assert "Python" not in text


def test_sql_pipe_is_one_logical_plan(spark):
    """q_sql_pipe: the |> chain must compile to the SAME plan family
    as the nested form — one join, one map-side-combined aggregate,
    zero Python, no materialization boundary between stages."""
    df = q(spark, "q_sql_pipe")
    text = inspect.plan_str(df)
    n_joins = sum(
        text.count(j)
        for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )
    assert n_joins == 1, f"pipe chain must plan exactly one join, saw {n_joins}"
    assert inspect.has_partial_aggregation(df)
    assert "Python" not in text


def test_session_vars_fold_to_literal_pushdown(spark):
    """q_sql_session_vars: by plan time the variables are LITERALS —
    the cutoff must appear as a pushed/compiled constant predicate,
    with no subquery re-evaluation in the executed plan."""
    import re

    df = q(spark, "q_sql_session_vars")
    text = inspect.plan_str(df)
    assert "Subquery" not in text, "variable capture leaked a subquery"
    assert re.search(r"o_orderkey#\d+L? <= \d+", text), (
        "cutoff did not fold to a literal predicate"
    )
    assert "Python" not in text


def test_observe_rides_the_scan_pass(spark):
    """q_agg_observe: the observed plan carries a CollectMetrics node
    over the filtered scan — metrics accumulate on the task stream,
    never via a second scan. (The key itself returns the driver-built
    one-row frame, so the gate rebuilds the observed side.)"""
    from pyspark.sql import Observation

    from sparkstreamingtohdfsofsensorsdata_spark.tables import load

    ev = load(spark, SF, "events").filter(F.col("event_type") == "purchase")
    obs = Observation("gate_metrics")
    observed = ev.observe(obs, F.count(F.lit(1)).alias("n"))
    text = inspect.plan_str(observed)
    assert "CollectMetrics" in text
    assert text.count("FileScan") + text.count("Scan parquet") >= 1


def test_common_neighbors_agg_is_exchange_free(spark):
    """r16 (VERDICT r15 item 3): the wedge pair groupBy must run
    INSIDE the explode stage — the narrow qa side is repartitioned by
    query node (REPARTITION_BY_NUM, so AQE cannot coalesce it) and
    HashPartitioning(id_a) satisfies the pair agg's clustering, so no
    shuffle moves the ~sum(deg^2)/mod wedge stream. Gate: exactly one
    non-broadcast exchange (the pinned narrow repartition), the
    explode Generate present, and the final TakeOrdered top-k."""
    import re

    df = q(spark, "q_graph_common_neighbors")
    text = inspect.plan_str(df)
    assert "Generate explode" in text
    assert inspect.has_take_ordered(df)
    shuffles = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", text)
    assert len(shuffles) == 1, f"wedge agg re-shuffles: {shuffles}"
    assert "id_a" in shuffles[0]
    assert "REPARTITION_BY_NUM" in text
    assert "Python" not in text
