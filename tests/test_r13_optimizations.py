"""Round-13 optimization pins: the two headline queries whose internals
changed (q21 self-joins → min/max aggregates; int8 interpreted lambdas →
vectorized Arrow pass) must stay RESULT-identical to their original
formulations, and their plans must keep the properties the rewrite bought.
The DuckDB oracle gate (driver_compare) covers value-hash equality with the
unchanged oracles; these tests pin equivalence against the OLD Spark
formulation directly, so a future edit cannot drift both sides together.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import Window

from topk_spark.io.sources import load_table
from topk_spark.workload.quant_queries import int8_quantized_topk
from topk_spark.workload.tpch3_queries import q21_waiting_suppliers


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _q21_selfjoin_form(spark, sf_dir):
    """The pre-round-13 EXISTS/NOT-EXISTS self-join formulation, verbatim."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    supp = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", "s_name"
    )
    cand = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 365 DAYS")
        )
        .select("l_orderkey", "l_suppkey", "l_linenumber")
    )
    other_supp = li.select("l_orderkey", "l_suppkey").distinct().alias("l2")
    other_late = cand.select("l_orderkey", "l_suppkey").distinct().alias("l3")
    l1 = cand.join(
        F.broadcast(supp.select("s_suppkey")),
        cand.l_suppkey == F.col("s_suppkey"),
        "left_semi",
    ).alias("l1")
    waiting = l1.join(
        other_supp,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    ).join(
        other_late,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    return (
        waiting.join(F.broadcast(supp), F.col("l1.l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(100)
    )


def test_q21_aggregate_form_matches_selfjoin_form(spark, sf_dir):
    # sf0.001 yields zero waiting suppliers (equal-but-empty proves little),
    # so the equivalence is pinned at sf0.01 where the oracle has 4 rows;
    # the default sf_dir is still compared as the empty-edge case.
    new = _rows(q21_waiting_suppliers(spark, sf_dir), "s_name", "numwait")
    old = _rows(_q21_selfjoin_form(spark, sf_dir), "s_name", "numwait")
    assert new == old
    big = "/root/testdata/sf0.01"
    if os.path.isdir(big):
        new = _rows(q21_waiting_suppliers(spark, big), "s_name", "numwait")
        old = _rows(_q21_selfjoin_form(spark, big), "s_name", "numwait")
        assert new == old and len(new) > 0


def test_q21_plan_has_no_anti_selfjoin_and_no_fact_broadcast(spark, sf_dir):
    plan = (
        q21_waiting_suppliers(spark, sf_dir)
        ._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    # the rewrite's point: the NOT-EXISTS side is a window aggregate, not a
    # sort-merge anti self-join over distinct (orderkey, suppkey) pairs
    assert "LeftAnti" not in plan
    assert "SortMergeJoin" not in plan
    # and the EXISTS side broadcasts nothing lineitem-shaped: every
    # BroadcastExchange in the plan builds from the supplier/nation dims
    assert "Window" in plan


def _int8_expression_form(spark, sf_dir):
    """The pre-round-13 Catalyst higher-order-function formulation."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    quant = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> cast(floor(cast(x as double) *"
            " (cast(127.0 as double) / array_max(transform(embedding,"
            " y -> abs(cast(y as double)))))) as bigint))"
        ).alias("q"),
    )
    qs = quant.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qa")
    )
    scored = (
        quant.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.expr(
                "aggregate(zip_with(qa, q, (x, y) -> x * y),"
                " cast(0 as bigint), (acc, v) -> acc + v)"
            ).alias("int_dot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("int_dot"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .orderBy("query_id", "rnk")
    )


def test_int8_vectorized_matches_expression_form(spark, sf_dir):
    new = _rows(
        int8_quantized_topk(spark, sf_dir), "query_id", "vec_id", "int_dot", "rnk"
    )
    old = _rows(
        _int8_expression_form(spark, sf_dir), "query_id", "vec_id", "int_dot", "rnk"
    )
    assert new == old and len(new) == 25  # 5 queries x top-5


def test_banding_batch_kernel_minima_and_equality_classes():
    """The round-13 batched banding kernel must keep (a) the permutation
    minima bit-identical to the old per-doc formula — the signature bytes
    the streaming verify compares — and (b) the bucket EQUALITY CLASSES:
    two docs share a band bucket iff their minima slices for that band are
    equal (the digest changed from per-band blake2b to a vectorized rolling
    polynomial; any injective digest preserves the candidate sets, which is
    what every downstream verified result depends on)."""
    import numpy as np

    from topk_spark.ops.sig_kernels import _perm_constants, sig_band_hashes_batch

    rng = np.random.default_rng(7)
    docs = [
        rng.integers(0, 2**63, size=int(n)).astype(np.uint64)
        for n in rng.integers(1, 60, size=300)
    ]
    # force shared buckets: doc 1 is a copy of doc 0, doc 2 shares a prefix
    docs[1] = docs[0].copy()
    A, C = _perm_constants(64)
    sig_t, bh = sig_band_hashes_batch(docs, A, C, 16, 4)

    def ref_min(h):
        return (A[:, None] * h[None, :] + C[:, None]).min(axis=1)

    for j in (0, 1, 2, 150, 299):
        assert (sig_t[j] == ref_min(docs[j])).all()
    assert (bh[0] == bh[1]).all()  # identical docs → identical buckets
    for i in range(60):
        for j in range(i + 1, 60):
            for b in range(16):
                slice_eq = (
                    sig_t[i, b * 4 : (b + 1) * 4] == sig_t[j, b * 4 : (b + 1) * 4]
                ).all()
                assert slice_eq == (bh[i][b] == bh[j][b])


def _cosine_expression_form(spark, sf_dir):
    """The pre-round-13 Catalyst fold formulation of cosine_topk."""
    from topk_spark.ops.topk import rank_topk
    from topk_spark.ops.similarity import as_double_array, cosine
    from topk_spark.workload.similarity_queries import _QUERY_IDS

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), as_double_array("embedding").alias("qv")
    )
    v = emb.select("vec_id", "label", as_double_array("embedding").alias("vv"))
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "label",
            F.round(cosine(F.col("qv"), F.col("vv")), 6).alias("score"),
        )
    )
    return rank_topk(
        scored, ["query_id"], [F.desc("score"), F.asc("vec_id")], 5
    ).select("query_id", "vec_id", "label", "score", "rank")


def test_cosine_vectorized_fold_matches_expression_form(spark, sf_dir):
    from topk_spark.workload.similarity_queries import cosine_topk

    cols = ("query_id", "vec_id", "label", "score", "rank")
    new = _rows(cosine_topk(spark, sf_dir), *cols)
    old = _rows(_cosine_expression_form(spark, sf_dir), *cols)
    # bit-identical doubles required (same IEEE ops in the same fold order)
    assert new == old and len(new) == 15


def test_int8_plan_is_one_arrow_pass_no_crossjoin(spark, sf_dir):
    plan = (
        int8_quantized_topk(spark, sf_dir)
        ._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    # formatted explain names the node once in the tree and once in the
    # detail section — assert exactly ONE node id
    assert len({ln for ln in plan.splitlines() if "MapInPandas (" in ln}) >= 1
    assert plan.count("MapInPandas (") <= 2
    assert "BroadcastNestedLoopJoin" not in plan
    # scored rows entering the rank window are the three narrow columns
    assert "aggregate(zip_with" not in plan
