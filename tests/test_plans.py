"""Physical-plan scale guards: pushdown, pruning, broadcast, no cartesian,
no row-Python, partial aggregation — asserted mechanically on the engine's
own plans (the '.explain and iterate' discipline, encoded as tests)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as em
from wage_etl_spark.plans.lint import assert_plan, plan_report

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").filter(F.col("l_orderkey") == 7).select("l_orderkey", "l_quantity")
    assert_plan(df, pushed_filters=True, max_read_cols=2)


def test_q1_prunes_columns(spark):
    """Q1 must not read all 11 lineitem columns for its 7-column aggregate."""
    r = assert_plan(em.q1_pricing_summary(spark, SF), pushed_filters=True, max_read_cols=7)
    assert r.partial_aggregate  # map-side combine before the shuffle


def test_q3_broadcasts_dimension(spark):
    assert_plan(em.q3_shipping_priority(spark, SF), broadcast=True)


def test_q5_no_cartesian_and_broadcasts(spark):
    assert_plan(em.q5_local_supplier(spark, SF), broadcast=True, no_cartesian=True)


def test_lww_state_partial_aggregates(spark):
    r = assert_plan(em.q_cdc_lww_state(spark, SF))
    assert r.partial_aggregate
    assert not r.window  # argmax strategy, not a window sort
    # single pass: n_events is folded into the argmax aggregate, so the plan
    # scans events exactly once (no separate groupBy().count() job)
    assert r.plan.count("FileScan") == 1, r.plan


def test_validation_has_no_row_python(spark):
    """The validation split may use Arrow UDFs but never BatchEvalPython."""
    from wage_etl_spark.operators.validate import validate_events
    from wage_etl_spark.sources.synth import synthesize_events

    ev = synthesize_events(spark, n_events=100, n_keys=10, n_epochs=1)
    valid, q = validate_events(ev, 1)
    r = assert_plan(q, no_row_python=True)
    # the hot validation path is PURE JVM (rlike replaced the pandas
    # commit-shape UDF — zero Python round-trips per epoch)
    assert not r.has_arrow_udf and not r.has_python_row_udf


def test_topk_query_broadcasts_queries_side(spark):
    assert_plan(em.q_embedding_topk(spark, SF), broadcast=True, no_cartesian=True)


def test_minhash_stays_jvm_side(spark):
    assert_plan(em.q_minhash_signatures(spark, SF), no_row_python=True)


def test_ann_ivf_broadcasts_and_no_cartesian(spark):
    """IVF two-stage ANN: centroids/queries broadcast, no CartesianProduct
    (the deliberate crossJoin against broadcast centroids plans as a
    broadcast nested-loop join, never a shuffled cartesian)."""
    assert_plan(em.q_embedding_ann_ivf(spark, SF), broadcast=True, no_cartesian=True)


def test_lsh_verified_broadcasts_candidates(spark):
    """Near-dup verify stage: candidate pairs broadcast back to the corpus;
    documents never shuffles; all JVM-side."""
    r = assert_plan(em.q_lsh_jaccard_verified(spark, SF), broadcast=True, no_cartesian=True)
    assert not r.has_python_row_udf


def test_lsh_verified_size_gate_falls_back_to_shuffle_join(spark):
    """VERDICT r2 #3: above the broadcast cap the verify stage must NOT
    force-broadcast the candidate set — the static plan degrades to a
    shuffle join (no explicit broadcast hint on the pair joins) so an
    unbounded candidate set can't OOM the driver. Hash parity is covered by
    test_queries (the gate changes only the join strategy, not results)."""
    from wage_etl_spark.operators.dedupe import lsh_jaccard_verified
    from wage_etl_spark.plans.lint import _pre_aqe

    d = spark.read.parquet(f"{SF}/documents.parquet")
    # disable size-based auto-broadcast so the ONLY way a broadcast can
    # appear is a forced hint — which is exactly what the gate must drop
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # the gate governs the two text-attach joins (keys id_a / id_b);
        # scope assertions to those lines — the LSH band join below the
        # cache boundary may retain whatever strategy it was first planned
        # with when its fragment was cached
        def attach_joins(df):
            return [
                ln for ln in _pre_aqe(df).splitlines()
                if ("Join [id_a#" in ln or "Join [id_b#" in ln)
            ]

        gated = lsh_jaccard_verified(d, "text", "doc_id", broadcast_max_pairs=0)
        lines = attach_joins(gated)
        assert lines and all("SortMergeJoin" in ln for ln in lines), lines
        # under the cap the hint is forced: broadcast survives threshold=-1
        hinted = lsh_jaccard_verified(d, "text", "doc_id", broadcast_max_pairs=10**9)
        hlines = attach_joins(hinted)
        assert hlines and all("BroadcastHashJoin" in ln for ln in hlines), hlines
        # identical results either way
        assert sorted(map(tuple, gated.collect())) == sorted(map(tuple, hinted.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_html_lifecycle_is_arrow_only(spark):
    """The HTML scan runs in mapInPandas (Arrow); everything downstream is
    JVM-side Column expressions — no row-at-a-time Python anywhere."""
    r = assert_plan(em.q_html_extract_lifecycle(spark, SF), no_row_python=True)
    assert r.has_arrow_udf  # the mapInPandas page parser


def test_lsh_verified_byte_gate_demotes_text_attach_join(spark):
    """Round-3 ADVICE: the SECOND text-attach join's build side carries
    document text, so its broadcast must be gated on estimated BYTES, not
    pair count. With a tiny byte cap the id_b join must fall back to
    SortMergeJoin while the bare-pair id_a join keeps its broadcast."""
    from wage_etl_spark.operators.dedupe import lsh_jaccard_verified
    from wage_etl_spark.plans.lint import _pre_aqe

    d = spark.read.parquet(f"{SF}/documents.parquet")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        gated = lsh_jaccard_verified(
            d, "text", "doc_id",
            broadcast_max_pairs=10**9, broadcast_max_bytes=1,
        )
        plan = _pre_aqe(gated).splitlines()
        a_lines = [ln for ln in plan if "Join [id_a#" in ln]
        b_lines = [ln for ln in plan if "Join [id_b#" in ln]
        assert a_lines and all("BroadcastHashJoin" in ln for ln in a_lines), a_lines
        assert b_lines and all("SortMergeJoin" in ln for ln in b_lines), b_lines
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_multiprobe_ann_broadcasts_and_no_row_python(spark):
    """ivf_ann_topk at nprobe=2: centroids and the probed query set are
    broadcast (corpus never shuffles for the probe join); vector math stays
    JVM-side — no BatchEvalPython anywhere."""
    r = assert_plan(
        em.q_embedding_ann_multiprobe(spark, SF), broadcast=True, no_row_python=True
    )
    assert not r.has_python_row_udf


def test_hyperplane_buckets_single_scan_jvm_only(spark):
    """Hyperplane bucketing is one corpus scan of pure Column expressions:
    no join, no shuffle, no Python."""
    r = assert_plan(em.q_hyperplane_lsh_buckets(spark, SF), no_row_python=True)
    assert r.plan.count("FileScan") == 1, r.plan
    # round 6: a narrow (single-split) input may gain ONE round-robin
    # widening exchange (plans/partitioning.widen_if_narrow) so the bucket
    # projection parallelizes; the scale guarantee stays — no keyed shuffle,
    # no join, no broadcast (at production split counts widening is a no-op)
    import re

    keyed = [
        ln for ln in r.plan.splitlines()
        if re.search(r"\bExchange (?!RoundRobinPartitioning)", ln)
    ]
    assert not keyed, keyed


def test_dedup_clusters_loop_is_ids_only(spark):
    """The component-propagation loop must never carry document text: after
    the edge checkpoint, every scanned column is an id/label (the loop's
    join+aggregate plans read 16-byte rows, not documents)."""
    from wage_etl_spark.operators.dedupe import dedup_clusters

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    out = dedup_clusters(pairs)
    r = plan_report(out)
    assert not r.has_python_row_udf
    # the returned plan reads only the checkpointed (id, label) data
    assert "text" not in r.plan and "content" not in r.plan, r.plan


def test_murmur3_matches_spark_hash(spark):
    """plans/partitioning.py's driver-side Murmur3 must agree with
    Catalyst's F.hash on int32 across the full range (the token search's
    correctness rests on this)."""
    from wage_etl_spark.plans.partitioning import murmur3_int32

    vals = list(range(-40, 40)) + [2**31 - 1, -(2**31), 123456789, -987654321]
    rows = (
        spark.createDataFrame([(v,) for v in vals], "v int")
        .select("v", F.hash("v").alias("h"))
        .collect()
    )
    assert all(r["h"] == murmur3_int32(r["v"]) for r in rows)


def test_repartition_exact_is_collision_free(spark):
    """Every combo gets its own partition — the property a raw
    repartition(n, bucket) lacks (~1/e empty reducers by hash collision)."""
    from wage_etl_spark.plans.partitioning import repartition_exact

    n = 48
    combos = spark.range(0, 48_000).select((F.col("id") % n).cast("int").alias("c"))
    df = repartition_exact(combos, F.col("c"), n)
    chk = (
        df.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.countDistinct("c").alias("nc"), F.count("*").alias("rows"))
        .collect()
    )
    assert len(chk) == n
    assert max(r["nc"] for r in chk) == 1
    assert min(r["rows"] for r in chk) == max(r["rows"] for r in chk) == 1000
