"""Exactness pins for the r12 Arrow argmin kernels (functions/argmin).

Each kernel replaces a crossJoin(broadcast) + HOF fold + struct-min plan
with a map-side Arrow pass.  These tests pin the kernels against the OLD
plan forms (kept here verbatim as executable specs) on adversarial
inputs: rounding-boundary distances, exact ties, zero vectors, NULL
vectors, negative components, and pass-through payload columns.  Any
drift here is an oracle-hash break, so the comparisons are exact
(collect-equal), not approximate.
"""

import math

import numpy as np
import pytest
from pyspark.sql import Row, functions as F, types as T

from log_vector_spark.functions.argmin import (
    _round6,
    assign_l2_arrow,
    ivf_assign_arrow,
    silhouette_scores_arrow,
)
from log_vector_spark.functions.vector import l2_distance


def _rng():
    return np.random.default_rng(42)


# ---------------------------------------------------------------------------
# _round6 vs Spark's round(double, 6)
# ---------------------------------------------------------------------------


def test_round6_matches_spark_round_on_adversarial_values(spark):
    vals = [
        0.0,
        -0.0,
        1.0,
        -1.0,
        0.1234565,  # shortest-decimal repr sits ON the half boundary
        -0.1234565,
        0.12345650000000001,
        0.1234564999999999,
        2.5e-7,  # rounds away from zero to 1e-6 exactly at the boundary
        -2.5e-7,
        4.999999999999999e-7,  # just below the boundary -> 0.0 (sign dropped)
        -4.999999999999999e-7,
        1.5e-6,
        -1.5e-6,
        3.0000005,
        -3.0000005,
        1e-12,
        -1e-12,  # rounds to zero; BigDecimal drops the sign -> +0.0
        12345678.9999995,
        -12345678.9999995,
        2.0**52,  # beyond the +0.5 fast path's reach
        -(2.0**52),
        2.0**52 + 1.0,
        9007199254.740993,
        1.7976931348623157e308,
        5e-324,
        -5e-324,
        float("inf"),
        float("-inf"),
        float("nan"),
    ]
    vals += [(n + 0.5) / 1e6 for n in range(-12, 13)]  # exact scaled halves
    vals += list(_rng().normal(0.0, 2.0, 200))
    got = _round6(np.asarray(vals, dtype=np.float64))
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    want = [r[0] for r in df.select(F.round("x", 6)).collect()]
    for v, g, w in zip(vals, got, want):
        if math.isnan(w):
            assert math.isnan(g), v
        else:
            # exact bit compare including the sign of zero
            assert math.copysign(1.0, g) == math.copysign(1.0, w) and g == w, (
                v,
                g,
                w,
            )


# ---------------------------------------------------------------------------
# assign_l2_arrow vs the crossJoin + fold + struct-min spec (_assign)
# ---------------------------------------------------------------------------


def _vdf(spark, vecs):
    return spark.createDataFrame(
        [(i, None if v is None else [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, e array<double>",
    )


def _sorted(df):
    # repr key: rows may hold NULLs, which plain tuple ordering cannot compare
    return sorted(map(tuple, df.collect()), key=repr)


def _assign(vectors, centroids, id_col):
    """The pre-kernel k-means assignment plan, verbatim (cluster.py before
    the Arrow kernel): nearest centroid per vector as a groupBy struct-min,
    rounded distance, ties to the lowest cid."""
    j = vectors.crossJoin(
        F.broadcast(centroids.select("cid", F.col("e").alias("ce")))
    ).withColumn("d", F.round(l2_distance(F.col("e"), F.col("ce")), 6))
    best = j.groupBy(id_col).agg(
        F.min(F.struct(F.col("d"), F.col("cid"), F.col("e"))).alias("m")
    )
    return best.select(
        id_col, F.col("m.e").alias("e"), F.col("m.cid").alias("cid"), F.col("m.d").alias("d")
    )


def test_assign_l2_arrow_matches_crossjoin_spec(spark):
    rng = _rng()
    vecs = rng.normal(0.0, 1.0, (60, 5)).tolist()
    # exact-tie rows: equidistant to centroids 0/1 -> must pick cid 0
    vecs += [[0.0, 0.0, 0.0, 0.0, 0.0], [0.5, 0.0, 0.0, 0.0, 0.0]]
    vecs += [None]  # NULL vector -> lowest cid, NULL distance
    cents = rng.normal(0.0, 1.0, (7, 5))
    cents[0] = [1.0, 0.0, 0.0, 0.0, 0.0]
    cents[1] = [-1.0, 0.0, 0.0, 0.0, 0.0]
    v = _vdf(spark, vecs)
    cdf = spark.createDataFrame(
        [Row(cid=i, e=[float(x) for x in c]) for i, c in enumerate(cents)]
    )
    want = _sorted(_assign(v, cdf, "vec_id"))
    # shuffled cid order: the kernel must re-sort for the tie rule
    perm = list(range(7))[::-1]
    got = _sorted(
        assign_l2_arrow(
            v, [perm[i] for i in range(7)], cents[perm], "vec_id", T.IntegerType()
        )
    )
    assert got == want
    assert [r for r in got if r[0] == 62] == [(62, None, 0, None)]


def test_assign_l2_arrow_refuses_ragged_width(spark):
    # a 3-wide vector against 2-wide centroids: the reference plan's
    # zip_with would pad with NULL and score NULL; the kernel raises
    v = _vdf(spark, [[1.0, 0.0], [1.0, 0.0, 0.0]])
    C = np.asarray([[0.0, 0.0], [5.0, 0.0]])
    with pytest.raises(Exception, match="vector width differs"):
        assign_l2_arrow(v, [0, 1], C, "vec_id", T.IntegerType()).collect()


def test_assign_l2_arrow_plan_is_zero_shuffle(spark):
    v = _vdf(spark, [[float(i), 0.0] for i in range(10)])
    plan = (
        assign_l2_arrow(v, [0, 1], np.asarray([[0.0, 0.0], [5.0, 0.0]]), "vec_id", T.IntegerType())
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInArrow" in plan
    assert "Exchange" not in plan and "Join" not in plan


# ---------------------------------------------------------------------------
# ivf_assign_arrow vs the old cosine crossJoin + struct-min plan form
# ---------------------------------------------------------------------------


def _old_ivf_assign(vectors, centroids, vec_id="vec_id", vec_col="embedding"):
    """The pre-r12 ivf_assign plan, verbatim (search.py @ b93b7b8)."""
    from log_vector_spark.functions.vector import dot_product, l2_norm

    v_n = vectors.withColumn("_vn", l2_norm(F.col(vec_col)))
    c_n = centroids.withColumn("_cn", l2_norm(F.col("centroid")))
    pairs = v_n.crossJoin(F.broadcast(c_n))
    scored = pairs.withColumn(
        "cscore",
        F.round(
            F.coalesce(
                F.try_divide(
                    dot_product(F.col(vec_col), F.col("centroid")),
                    F.col("_vn") * F.col("_cn"),
                ),
                F.lit(0.0),
            ),
            6,
        ),
    )
    others = [c for c in vectors.columns if c != vec_id]
    best = scored.groupBy(vec_id).agg(
        F.min(
            F.struct((-F.col("cscore")).alias("neg"), F.col("list_id").alias("list_id"))
        ).alias("_b"),
        *[F.first(c).alias(c) for c in others],
    )
    return best.select(
        vec_id, *others, F.col("_b.list_id").alias("list_id"), (-F.col("_b.neg")).alias("cscore")
    )


def test_ivf_assign_arrow_matches_old_plan(spark):
    from log_vector_spark.operators.search import ivf_assign

    rng = _rng()
    rows = [
        Row(vec_id=i, embedding=[float(x) for x in v], payload=f"p{i}")
        for i, v in enumerate(rng.normal(0.0, 1.0, (50, 4)).tolist())
    ]
    # zero vector -> try_divide NULL -> coalesce 0.0 ties across ALL lists
    rows.append(Row(vec_id=50, embedding=[0.0, 0.0, 0.0, 0.0], payload="z"))
    # exact cosine tie: colinear centroids at different magnitudes
    rows.append(Row(vec_id=51, embedding=[1.0, 0.0, 0.0, 0.0], payload="t"))
    # NULL vector -> lowest list_id, cscore 0.0
    rows.append(Row(vec_id=52, embedding=None, payload="n"))
    vectors = spark.createDataFrame(rows, "vec_id long, embedding array<double>, payload string")
    cents = rng.normal(0.0, 1.0, (6, 4))
    cents[2] = [2.0, 0.0, 0.0, 0.0]
    cents[4] = [3.0, 0.0, 0.0, 0.0]
    centroids = spark.createDataFrame(
        [Row(list_id=i, centroid=[float(x) for x in c]) for i, c in enumerate(cents)]
    )
    want = _sorted(_old_ivf_assign(vectors, centroids))
    got = _sorted(ivf_assign(vectors, centroids))
    assert got == want
    assert [r for r in got if r[0] == 52] == [(52, None, "n", 0, 0.0)]
    # the registered entry point itself must carry no Exchange / join
    plan = (
        ivf_assign(vectors, centroids)._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInArrow" in plan
    assert "Exchange" not in plan and "Join" not in plan


def test_ivf_assign_arrow_empty_centroids_is_empty(spark):
    vectors = _vdf(spark, [[1.0, 0.0]]).withColumnRenamed("e", "embedding")
    empty = spark.createDataFrame(
        [], "list_id long, centroid array<double>"
    )
    from log_vector_spark.operators.search import ivf_assign

    assert ivf_assign(vectors, empty).count() == 0


# ---------------------------------------------------------------------------
# silhouette_scores_arrow vs the old crossJoin + collect_list form
# ---------------------------------------------------------------------------


def _old_silhouette_scores(v, cdf, id_col="vec_id"):
    from log_vector_spark.functions.vector import l2_distance

    scored = v.crossJoin(
        F.broadcast(cdf.select(F.col("cid").alias("ocid"), F.col("e").alias("ce")))
    ).withColumn("od", F.round(l2_distance(F.col("e"), F.col("ce")), 6))
    per_vec = scored.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("od", "ocid"))).alias("ds")
    )
    a_d = F.col("ds")[0]["od"]
    own = F.col("ds")[0]["ocid"]
    b_d = F.col("ds")[1]["od"]
    s = F.when(F.greatest(a_d, b_d) == 0, F.lit(0.0)).otherwise(
        F.round((b_d - a_d) / F.greatest(a_d, b_d), 6)
    )
    return per_vec.select(own.alias("cid"), s.alias("s"))


def test_silhouette_scores_arrow_matches_old_plan(spark):
    rng = _rng()
    vecs = rng.normal(0.0, 1.0, (40, 3)).tolist()
    vecs += [[0.0, 0.0, 0.0]]  # sits ON centroid 0 -> a == 0, b > 0
    vecs += [None]  # NULL vector -> owner = lowest cid, NULL score
    cents = np.asarray(
        [[0.0, 0.0, 0.0], [1.0, 1.0, 1.0], [-1.0, 0.5, 0.0]], dtype=np.float64
    )
    v = _vdf(spark, vecs)
    cdf = spark.createDataFrame(
        [Row(cid=i, e=[float(x) for x in c]) for i, c in enumerate(cents)]
    )
    want = _sorted(_old_silhouette_scores(v, cdf))
    got = _sorted(silhouette_scores_arrow(v, [0, 1, 2], cents, "vec_id"))
    assert got == want
    assert (0, None) in got


def test_silhouette_degenerate_both_zero_scores_zero(spark):
    # vector exactly on BOTH nearest centroids is impossible (distinct
    # centroids), but a==b==0 guards via duplicate centroid values
    cents = np.asarray([[0.0, 0.0], [0.0, 0.0]], dtype=np.float64)
    v = _vdf(spark, [[0.0, 0.0]])
    got = silhouette_scores_arrow(v, [0, 1], cents, "vec_id").collect()
    assert got == [Row(cid=0, s=0.0)]


def test_silhouette_requires_two_centroids():
    with pytest.raises(ValueError):
        silhouette_scores_arrow(None, [0], np.asarray([[0.0]]), "vec_id")
