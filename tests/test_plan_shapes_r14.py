"""Round-14 plan pins: the structures won by the r13/r14 optimization
rounds, asserted on executed plans so a refactor cannot silently lose
them (r13 verdict item 1 — the wins are unbankable without pins).

Counts are calibrated at sf0.001 with the session's AQE + broadcast
settings; each assert names the property it guards, not a magic number.
"""

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "qname,n_arrow",
    [
        # one full-corpus signature pass each after the r13
        # asNondeterministic fix (the optimizer used to duplicate the
        # ArrowEvalPython under a pushed filter — guide §4.4); ann_lsh
        # legitimately evaluates two DISTINCT signature expressions
        ("ann_signlsh_docs", 1),
        ("ann_ivf_int8_docs", 1),
        ("ann_lsh_docs", 2),
    ],
)
def test_ann_signature_udfs_evaluate_once(spark, qname, n_arrow):
    from delta_go_spark.queries import queries

    plan = _plan(queries()[qname](spark, SF_DIR))
    assert plan.count("ArrowEvalPython") == n_arrow, plan
    assert "BatchEvalPython" not in plan, plan


def test_minhash_incremental_state_never_shuffles(spark):
    """The r13 guarded-broadcast work: the joins of the O(change) netted
    frames against stored signature/pair state are broadcast-hash (SMJ
    fell 7 -> 2 in the r13 dumps, exchanges 18 -> 7).  The two surviving
    sort-merge joins are the CANDIDATE-bounded verify attaches (ha/hb
    signature re-joins keyed on the collision pairs), not state-vs-change
    joins — pin the won ceiling so a refactor cannot regress past it."""
    from delta_go_spark.queries import queries

    plan = _plan(queries()["minhash_incremental_docs"](spark, SF_DIR))
    assert plan.count("SortMergeJoin") <= 2, plan
    assert plan.count("BroadcastHashJoin") >= 6, plan


def test_split_cluster_safe_no_smj_single_tag_subtree(spark):
    """The r13 sharing fix: the CC label table joins the corpus under a
    measured broadcast (no sort-merge join anywhere), and the tagged
    frame is materialized once — the leaked-clusters gate and the
    per-split aggregate must not each rebuild the corpus join."""
    from delta_go_spark.queries import queries

    plan = _plan(queries()["split_cluster_safe_docs"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan
    # one parquet scan of documents feeds the tagged checkpoint; the two
    # consumers read the checkpoint (ExistingRDD), not fresh scans
    assert plan.count("Scan parquet") <= 1, plan


def test_exactsubstr_gram_pipeline_computed_once(spark):
    """r14: the (doc, i, gram-hash) frame serves the repeated-gram
    aggregate AND the hit-start join from ONE checkpoint — the final plan
    reads it as ExistingRDD and only re-scans the corpus for the rebuild
    (3 corpus pipelines -> 2)."""
    from delta_go_spark.queries import queries

    plan = _plan(queries()["exactsubstr_dedup_docs"](spark, SF_DIR))
    assert "Scan ExistingRDD" in plan, plan
    # the rebuild scan (token arrays) is the only remaining parquet read
    # of documents in the final plan
    assert plan.count("Scan parquet") <= 1, plan


def test_cosine_blocks_materialized_once(spark):
    """r14: the per-block vector table feeds BOTH broadcast sides of the
    block-pair join from one checkpoint — the normalize + collect_list
    corpus pipeline must not run twice (two full subtrees in the r13
    dump)."""
    from delta_go_spark.queries import queries

    plan = _plan(queries()["cosine_near_dup_docs"](spark, SF_DIR))
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("Scan ExistingRDD") >= 2, plan


def test_softdedup_sub_cc_sizes_broadcast(spark):
    """r14: the sub-CC size attach joins under a measured broadcast (the
    size table is O(affected clusters)); the only remaining sort-merge
    join is the final corpus-sized attach of all_ids to the clustered
    union — the honest join at scale."""
    from delta_go_spark.queries import queries

    plan = _plan(queries()["softdedup_incremental_docs"](spark, SF_DIR))
    assert plan.count("SortMergeJoin") <= 1, plan


def test_streaming_aggsink_shuffle_width_bounded(spark, monkeypatch):
    """r14: the aggsink's per-batch aggregate + MERGE run in an isolated
    session whose shuffle width is sized to the key cardinality (default
    4, env-overridable), not one partition per core — each of the 4
    micro-batches folds O(event types) rows, so the parent's 32-way
    width only bought empty tasks.  The parent session must be
    untouched, and the additive fold must still match the oracle (the
    result is partitioning-independent)."""
    from delta_go_spark.queries import queries
    from delta_go_spark.streaming import windows

    sessions = []
    orig = windows._isolated_stream_session

    def spy(parent):
        sessions.append(orig(parent))
        return sessions[-1]

    monkeypatch.setattr(windows, "_isolated_stream_session", spy)
    parent_parts = spark.conf.get("spark.sql.shuffle.partitions")
    df = queries()["streaming_delta_aggsink_events"](spark, SF_DIR)
    assert len(sessions) == 1
    assert sessions[0].conf.get("spark.sql.shuffle.partitions") == "4"
    assert spark.conf.get("spark.sql.shuffle.partitions") == parent_parts
    rows = {r["event_type"]: r["n_events"] for r in df.collect()}
    assert rows and all(n > 0 for n in rows.values())


@pytest.mark.parametrize("raw", ["0", "four"])
def test_stream_state_partitions_env_validated(spark, monkeypatch, raw):
    """SPARK_GRAFT_STREAM_STATE_PARTITIONS must be an integer > 0; a bad
    value fails loudly, naming the variable, before any session exists."""
    from delta_go_spark.streaming.windows import _isolated_stream_session

    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_STREAM_STATE_PARTITIONS"):
        _isolated_stream_session(spark)


def test_streaming_static_enrich_state_partitions_bounded(spark):
    """r14: the stream-static enrich aggregate runs its state store at
    the key-cardinality-sized partition count (default 4, env-overridable
    for real key spaces), not one per core — the per-batch state commit
    (one delta file per partition) was the whole row's cost.  The stream
    runs in an isolated session, so the PARENT session's batch shuffle
    parallelism must stay untouched."""
    from delta_go_spark.queries import queries

    parent_parts = spark.conf.get("spark.sql.shuffle.partitions")
    df = queries()["streaming_static_enrich_events"](spark, SF_DIR)
    # the returned frame belongs to the isolated stream session whose
    # shuffle/state partition count is the key-cardinality default
    assert df.sparkSession.conf.get("spark.sql.shuffle.partitions") == "4"
    assert spark.conf.get("spark.sql.shuffle.partitions") == parent_parts
    assert df.count() > 0
