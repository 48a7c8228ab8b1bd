"""Physical-plan quality gates.

Correctness tests prove WHAT is computed; these prove HOW — that the plans
Catalyst produces are the ones a 100 TB deployment needs (predicate
pushdown into the parquet scan, column pruning, broadcast for small dims,
map-side partial aggregation). A regression that silently turns a
broadcast join into a sort-merge join or un-pushes a filter fails here
long before it would show up as a cluster bill.
"""

from __future__ import annotations

import pytest

from pdf_extractor_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _formatted_plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_filter_and_projection_pushed_to_scan(spark):
    plan = _formatted_plan(spark, "part_filter")
    assert "PushedFilters: [Or(GreaterThanOrEqual(p_size,25)" in plan
    # projection pruned to exactly the 4 needed columns
    assert (
        "ReadSchema: struct<p_partkey:bigint,p_name:string,"
        "p_size:int,p_retailprice:double>" in plan
    )


def test_lookup_join_broadcasts_small_side(spark):
    plan = _formatted_plan(spark, "lookup_join")
    assert "BroadcastHashJoin LeftOuter BuildRight" in plan
    assert "SortMergeJoin" not in plan
    # fact side reads only the join/projection columns
    assert "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint>" in plan


def test_anti_join_is_broadcast_not_sort_merge(spark):
    plan = _formatted_plan(spark, "anti_resume")
    assert "BroadcastHashJoin LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    # watermark side pruned to the key column only
    assert "ReadSchema: struct<o_custkey:bigint>" in plan


def test_aggregation_has_mapside_partial(spark):
    plan = _formatted_plan(spark, "pricing_summary")
    # partial agg below the exchange, final above — exactly one shuffle
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange (") == 1  # tree node, once
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_date_filter_pushed_for_range_slice(spark):
    plan = _formatted_plan(spark, "range_slice")
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(ts," in plan


@pytest.mark.parametrize("name", ["cosine_topk", "ann_ivf"])
def test_similarity_queries_use_broadcast(spark, name):
    plan = _formatted_plan(spark, name)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_extraction_pipeline_stays_in_arrow_not_row_python(spark):
    """The only Python in the flagship plan must be Arrow-vectorized
    (ArrowEvalPython / mapInPandas FlatMapGroups stages), never
    row-at-a-time BatchEvalPython."""
    from pdf_extractor_spark.job.extract import run_extract
    from pdf_extractor_spark.queries.extraction import transcripts_df

    df = run_extract(transcripts_df(spark, n_convs=3))
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BatchEvalPython" not in plan


def test_audit_checksum_is_partial_hash_agg(spark):
    """The lineage checksum must be a partial+final hash aggregate with
    O(1) per-group state — never a collect_list that buffers a whole
    bucket's text in one aggregation buffer (VERDICT r1)."""
    plan = _formatted_plan(spark, "extract_audit")
    assert "collect_list" not in plan
    assert "SortAggregate" not in plan
    assert "partial_bit_xor" in plan or "bit_xor" in plan
    assert plan.count("HashAggregate") >= 2


def test_dedup_lsh_no_cartesian_and_hash_aggs(spark):
    """LSH candidate generation must stay a keyed equi-join on
    (band_no, band_hash) — a cartesian/nested-loop here is the classic
    all-pairs blowup — and the signature aggregation must be a hash agg
    (partial+final), not a sort agg.  The production query hides the
    join inside localCheckpoint subplans (the session pair cache), so
    compose the same pieces without the checkpoint for the plan gate —
    explaining the cached frame would assert on an opaque RDD scan."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.queries.dedup import _corpus, band_rows

    bands = band_rows(_corpus(spark, SF))
    a, b = bands.alias("a"), bands.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band_no") == F.col("b.band_no"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    plan = pairs._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan


def test_dedup_jaccard_df_cap_in_plan(spark):
    """The document-frequency cap must appear as a semi-join against the
    rare-shingle set (bounded inverted-index fan-out at scale).  The
    production query hides this inside a localCheckpoint subplan, so
    compose the same pieces without the checkpoint for the plan gate."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.queries.dedup import (
        _MAX_SHINGLE_DF,
        _corpus,
        _shingles,
    )

    sh_all = _shingles(_corpus(spark, SF))
    rare = (
        sh_all.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _MAX_SHINGLE_DF)
        .select("shingle")
    )
    capped = sh_all.join(rare, "shingle", "semi")
    plan = capped._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "LeftSemi" in plan
    # and the full query must never degrade to an all-pairs join
    full = _formatted_plan(spark, "dedup_ngram_jaccard")
    assert "CartesianProduct" not in full


def test_embedding_neardup_blocks_on_cell(spark):
    """Near-dup blocking key must be the IVF cell join (cell_id) — never
    a cartesian.  The production queries hide the pair join inside the
    session pair cache's localCheckpoint (opaque RDD scan), so compose
    the same pieces uncached for the plan gate."""
    from pdf_extractor_spark.queries.similarity import (
        _jittered_cells,
        _near_dup_pairs,
    )

    pairs = _near_dup_pairs(_jittered_cells(spark, SF))
    plan = pairs._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "cell_id" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_curation_route_shuffles_narrow_rows_only(spark):
    """The curation exact-dup window must shuffle (doc_id, md5, score,
    lang) — the text column is projected away BEFORE the exchange, so
    the corpus's wide column never crosses the network."""
    df = QUERIES["curation_route"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pre, _, post = plan.partition("Exchange hashpartitioning(text_md5")
    assert _, "expected a single md5-keyed exchange"
    # everything BELOW the exchange that mentions text#N is the
    # md5/score/lang projection; the exchange's direct child Project
    # must not carry the raw text column itself
    child_project = post.split("+- Project ", 1)[1].split("\n", 1)[0]
    assert "text#" not in child_project.replace("text_md5#", "")
    # scan pruned to exactly the two columns the gates need
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_source_mix_sample_is_one_narrow_pass(spark):
    """The mixture sampler must be scan + filter only — zero exchanges.
    At 100 TB a shuffle here would move the corpus to decide membership
    that every row can decide for itself."""
    plan = _formatted_plan(spark, "source_mix_sample")
    assert "Exchange" not in plan
    # and the scan reads only the two needed columns
    assert "ReadSchema: struct<doc_id:bigint,source:string>" in plan


def test_repetition_stats_aggs_are_partial(spark):
    """(doc, term) counting must combine map-side: each doc's repeated
    terms collapse before the exchange, so per-key fan-in is bounded by
    a document's vocabulary, not its length."""
    plan = _formatted_plan(spark, "repetition_stats")
    assert plan.count("HashAggregate") >= 4  # partial+final × word/bigram
    assert "BatchEvalPython" not in plan


def test_pack_sequences_windows_on_blocked_key(spark):
    """The packing window must partition on (source, block), never on
    source alone — one window partition per source would serialize a
    source's entire shard through a single task."""
    plan = _formatted_plan(spark, "pack_sequences")
    assert "Window" in plan
    import re

    hp = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert hp and all("block" in h for h in hp), plan


def test_pii_redact_is_one_narrow_jvm_pass(spark):
    """PII scrubbing is a pure map over the scan: no shuffle (a redaction
    pass at 100 TB must not move a byte between executors) and no Python
    evaluation of any kind."""
    plan = _formatted_plan(spark, "pii_redact")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # reads only the two needed columns
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The held-out benchmark gram set is small by definition — the
    contamination scan must be a broadcast join against the corpus
    shingles, never a corpus-wide shuffle join or a cartesian."""
    plan = _formatted_plan(spark, "decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # per-doc overlap count is a partial+final hash agg
    assert plan.count("HashAggregate") >= 2


def test_strip_boilerplate_counts_df_mapside_and_broadcasts_hot(spark):
    """Line document-frequency must be a partial+final groupBy count
    (a window over the line partitioning would pile every copy of a
    universal footer onto one reducer), and the hot-line flag must come
    back via a broadcast join — the corpus lines never shuffle for it."""
    plan = _formatted_plan(spark, "strip_boilerplate")
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_vocab_topk_is_heap_topk_not_global_sort(spark):
    """The global top-K over token frequencies must plan as
    TakeOrderedAndProject (per-partition heaps, driver merges K rows) —
    a full Sort of the frequency table is billions of rows at scale —
    and the count agg must partial-aggregate map-side."""
    plan = _formatted_plan(spark, "vocab_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    assert plan.count("HashAggregate") >= 2


def test_dedup_clusters_sizes_without_window(spark):
    """cluster_size must come from a map-side-combining groupBy count
    joined back, never a window over the cluster partitioning — a
    mega-cluster would serialize onto one window task."""
    plan = _formatted_plan(spark, "dedup_clusters")
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2


def test_quality_bins_is_one_narrow_pass(spark):
    """Bin assignment must be scan + project only — the thresholds are
    broadcast literals from the bounded sample fit, so the per-row pass
    has zero exchanges and zero windows (an ntile would range-shuffle
    the corpus onto ~4 tasks)."""
    plan = _formatted_plan(spark, "quality_bins")
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_dedup_semantic_keep_rule_without_window(spark):
    """The SemDeDup keep rule must be map-side-combining hash aggs +
    keyed joins, never a per-group window (a mega-group — one page
    embedded millions of times — would serialize onto one window task);
    the pair stage's cell blocking is gated by
    test_embedding_neardup_blocks_on_cell on the shared uncached pieces."""
    plan = _formatted_plan(spark, "dedup_semantic")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    # r5: the keep rule fused to ONE struct-min agg (partial+final)
    assert plan.count("HashAggregate") >= 2


def test_asof_join_is_union_window_not_range_join(spark):
    """The AS-OF join must be the tagged-union + forward-fill shape: ONE
    user_id exchange feeding a window, ZERO join operators — a range
    join (user match + ts <= ts) explodes to O(clicks x views-per-user)
    pairs before aggregating, and at web scale a hot user makes that
    quadratic.  Both event_type filters must reach the scans."""
    plan = _formatted_plan(spark, "asof_join")
    assert "Join" not in plan
    assert plan.count("Exchange (") == 1
    assert "EqualTo(event_type,view)" in plan
    assert "EqualTo(event_type,click)" in plan


def test_stratified_split_is_narrow_plus_partial_agg(spark):
    """Split assignment is a pure function of doc_id (md5 bucket), so the
    plan must be scan -> project -> partial agg -> one exchange -> final
    agg: no window, no join, no Python, and the scan pruned to the three
    consumed columns."""
    plan = _formatted_plan(spark, "stratified_split")
    assert "Window" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange (") == 1
    assert plan.count("HashAggregate") >= 2
    assert (
        "ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>"
        in plan
    )


def test_range_join_is_binned_equi_join_not_nested_loop(spark):
    """A point-in-interval condition handed to Spark verbatim plans as
    BroadcastNestedLoopJoin — a full pairwise scan. The bucketed form
    must plan as a plain equi-join on (user_id, bin) with the interval
    containment as a post-join conditional, and both event_type filters
    pushed into the parquet scan."""
    plan = _formatted_plan(spark, "range_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "EqualTo(event_type,view)" in plan
    assert "EqualTo(event_type,click)" in plan


def test_source_overlap_folds_shingles_once_and_broadcasts_totals(spark):
    """The per-shingle source-set fold is the only heavy exchange; the
    pair and totals branches must both be served from that ONE shuffle,
    and the per-source totals must come back as broadcast joins (20 rows
    vs the pair table).  The static plan shows the fold subtree three
    times (both totals sides + pairs); AQE's runtime stage reuse is what
    collapses them, so the reuse gate reads the FINAL adaptive plan
    after an execution."""
    df = QUERIES["source_overlap"](spark, SF)
    plan = _formatted_plan(spark, "source_overlap")
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    # tree form only — the details section repeats each node name
    assert plan.count("BroadcastHashJoin Inner BuildRight") == 2
    df.collect()
    final = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert "isFinalPlan=true" in final
    # the shingle fold's shuffle files serve every consumer branch
    assert "ReusedExchange" in final
    assert "hashpartitioning(shingle" in final.split("ReusedExchange", 1)[1]
    # and the second totals broadcast is the first one, reused
    assert "BroadcastExchange HashedRelationBroadcastMode" in \
        final.split("ReusedExchange", 1)[1]


def _extraction_input(spark):
    """The 60-conversation fixture, parsed and materialized."""
    from pdf_extractor_spark.job.extract import parse_transcripts
    from pdf_extractor_spark.queries.extraction import transcripts_df

    tdf = transcripts_df(spark, n_convs=60, seed=99)
    return tdf, parse_transcripts(tdf).localCheckpoint(eager=True)


def test_resolve_references_plans_no_window(spark, monkeypatch):
    """The lookup representative is a partial+final max_by over the
    semi-join-reduced spans, never a window that sorts the whole span
    table.  localCheckpoint is stubbed to identity while resolving, so the
    executed plan shows the subplans it would otherwise hide behind RDD
    scans."""
    from pdf_extractor_spark.job import extract as X

    B = X.DEFAULT_BLOCK_SIZE
    _, parsed = _extraction_input(spark)
    merged = X._merge_block_edges(
        X._link_and_stitch_blocks(parsed, B), B
    ).localCheckpoint(eager=True)
    monkeypatch.setattr(
        type(merged), "localCheckpoint", lambda self, **kw: self
    )
    out = X._resolve_references(merged)
    out.collect()
    final = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert "isFinalPlan=true" in final
    assert "Window" not in final
    assert "partial_max_by(" in final


def test_block_carry_is_partial_max_by(spark):
    """The level-1 block carry is one partial+final max_by aggregate (a
    SortAggregate, as its value is a string): the partial side runs in
    every scan task, so no single task sees a whole conversation."""
    from pdf_extractor_spark.job import extract as X

    _, parsed = _extraction_input(spark)
    plan = X._link_and_stitch_blocks(parsed, 3)._jdf.queryExecution() \
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("simple")
        )
    assert "functions=[partial_max_by(" in plan
    assert "functions=[max_by(" in plan


def test_warm_run_extract_job_count(spark):
    """One warm run_extract over the 60-conversation fixture launches 17
    Spark jobs (query stages, checkpoints and the collect).  A new
    exchange or checkpoint in the flagship shows up here."""
    from pdf_extractor_spark.job.extract import run_extract

    tdf, _ = _extraction_input(spark)
    run_extract(tdf).collect()  # cold: ships the package to the workers
    sc = spark.sparkContext
    sc.setJobGroup("warm_run_extract", "warm_run_extract")
    try:
        run_extract(tdf).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("warm_run_extract")
    assert len(jobs) == 17


def _python_nodes(plan: str) -> list[str]:
    """The UDF list of each ArrowEvalPython node in a plan string's final
    plan (a UDF argument may hold a newline, so nodes are not lines)."""
    final = plan.split("== Initial Plan ==")[0]
    return [node.split("], [pythonUDF")[0]
            for node in final.split("ArrowEvalPython [")[1:]]


def test_run_extract_applies_core_rules_in_python_not_jvm_regex(
    spark, monkeypatch
):
    """The detector, the Solution strip and the sort key run as the core
    functions over Arrow batches: no regexp_ expression and no RLIKE
    anywhere in run_extract (localCheckpoint stubbed to identity so the
    detector's subplan is visible), and the finalize projection is one
    ArrowEvalPython node per union branch (one Python worker per task)
    carrying both the strip and the sort-key UDF."""
    from pdf_extractor_spark.job.extract import run_extract

    tdf, _ = _extraction_input(spark)
    out = run_extract(tdf)
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString()
    nodes = _python_nodes(final)
    assert len(nodes) == 2
    for node in nodes:
        assert "_strip_prefix_col(" in node and "_sort_key_col(" in node

    with monkeypatch.context() as m:
        m.setattr(type(tdf), "localCheckpoint", lambda self, **kw: self)
        whole = run_extract(tdf)._jdf.queryExecution().executedPlan() \
            .toString()
    assert any("_detect_ref_col(" in n for n in _python_nodes(whole))
    assert "regexp_" not in whole and "RLIKE" not in whole
    assert "BatchEvalPython" not in whole


def test_remaining_refs_sweep_is_arrow_python(spark):
    """evaluate's remaining-reference sweep is the core patterns searched
    by Python re in an ArrowEvalPython node, with no JVM regex."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.job.evaluate import evaluate_spans

    spans = spark.range(4).select(
        F.lit("c").alias("conv_id"),
        F.col("id").cast("string").alias("span_id"),
        F.col("id").cast("string").alias("question_latex"),
        F.col("id").cast("string").alias("text"),
        F.lit(False).alias("had_reference"),
    )
    plan = evaluate_spans(spans)._jdf.queryExecution().executedPlan() \
        .toString()
    assert any("_remaining_refs(" in n for n in _python_nodes(plan))
    assert "regexp_" not in plan and "RLIKE" not in plan
