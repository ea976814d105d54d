"""Edge-case tests for the scale-tier operators (equi-depth buckets,
deterministic sampling, SCD2) plus the HLL scale-path equivalence for
exact NDV. Oracle parity covers fixture-scale values."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators.buckets import (
    equi_depth_buckets,
)
from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators.sampling import (
    cap_per_group,
    stratified_sample,
)
from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators.temporal import (
    scd2_intervals,
)

SF = "/root/testdata/sf0.001"
T0 = dt.datetime(2024, 1, 1)


def test_equi_depth_ties_never_split(spark):
    # one value holds 60% of rows: all its rows share ONE bucket even
    # though an ntile-style split would cut it across buckets
    rows = [(5,)] * 60 + [(1,)] * 20 + [(9,)] * 20
    df = spark.createDataFrame(rows, "v int")
    out = equi_depth_buckets(df, "v", 4)
    by_v = out.groupBy("v").agg(F.count_distinct("bucket").alias("nb"), F.min("bucket").alias("b"))
    got = {r["v"]: (r["nb"], r["b"]) for r in by_v.collect()}
    assert all(nb == 1 for nb, _ in got.values())
    # buckets monotone with value: 1 (rows 0-19) -> bucket 1; 5 (rows
    # 20-79, first at pos 20, 20*4//100=0) -> bucket 1; 9 (pos 80) -> 4
    assert got[1][1] == 1 and got[5][1] == 1 and got[9][1] == 4


def test_equi_depth_uniform_quarters(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "v int")
    out = equi_depth_buckets(df, "v", 4)
    sizes = {r["bucket"]: r["n"] for r in out.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sizes == {1: 25, 2: 25, 3: 25, 4: 25}


def test_stratified_sample_deterministic_and_rate(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    s1 = stratified_sample(d, "lang", "doc_id", {"en": 0.5}, default_rate=0.2)
    s2 = stratified_sample(d, "lang", "doc_id", {"en": 0.5}, default_rate=0.2)
    ids1 = sorted(r["doc_id"] for r in s1.select("doc_id").collect())
    ids2 = sorted(r["doc_id"] for r in s2.select("doc_id").collect())
    assert ids1 == ids2  # same rows every run — no seed/order dependence
    n_en_all = d.filter(F.col("lang") == "en").count()
    n_en = s1.filter(F.col("lang") == "en").count()
    assert 0.25 * n_en_all <= n_en <= 0.75 * n_en_all  # loose: n is small


def test_stratified_sample_rate_one_keeps_all(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    s = stratified_sample(d, "lang", "doc_id", {"en": 1.0}, default_rate=1.0)
    assert s.count() == d.count()


def test_cap_per_group_small_groups_untouched(spark):
    df = spark.createDataFrame(
        [("a", i) for i in range(30)] + [("b", i + 100) for i in range(3)],
        "g string, id int",
    )
    out = cap_per_group(df, ["g"], "id", 5)
    sizes = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sizes == {"a": 5, "b": 3}
    # deterministic selection
    again = sorted(r["id"] for r in cap_per_group(df, ["g"], "id", 5).collect())
    assert sorted(r["id"] for r in out.collect()) == again


def test_scd2_collapses_runs_and_chains_intervals(spark):
    e = spark.createDataFrame(
        [
            (1, T0 + dt.timedelta(hours=0), 1, "new"),
            (1, T0 + dt.timedelta(hours=1), 2, "new"),      # same run
            (1, T0 + dt.timedelta(hours=2), 3, "open"),
            (1, T0 + dt.timedelta(hours=3), 4, "new"),      # state can recur
            (2, T0, 5, "new"),
        ],
        "user_id int, ts timestamp, event_id int, event_type string",
    )
    out = scd2_intervals(e, keys=["user_id"], ts_col="ts", state_col="event_type", tiebreak="event_id")
    rows = sorted(out.collect(), key=lambda r: (r["user_id"], r["valid_from"]))
    assert [(r["user_id"], r["event_type"], r["is_current"]) for r in rows] == [
        (1, "new", False), (1, "open", False), (1, "new", True), (2, "new", True),
    ]
    # intervals chain exactly: each valid_to equals the next valid_from
    u1 = [r for r in rows if r["user_id"] == 1]
    assert u1[0]["valid_to"] == u1[1]["valid_from"]
    assert u1[1]["valid_to"] == u1[2]["valid_from"]
    assert u1[2]["valid_to"] is None


def test_approx_ndv_tracks_exact(spark):
    """The 100 TB path for agg_daily_active_users swaps count_distinct
    for approx_count_distinct (HLL++, default rsd 5%): sketches merge
    map-side, so the dedup shuffle disappears. Assert the bounded-error
    contract actually holds on the fixture."""
    e = spark.read.parquet(f"{SF}/events.parquet").select("user_id")
    exact = e.select(F.count_distinct("user_id").alias("n")).collect()[0]["n"]
    approx = e.select(F.approx_count_distinct("user_id").alias("n")).collect()[0]["n"]
    assert abs(approx - exact) / exact < 0.10


def test_ivf_topk_recall_vs_brute_force(spark):
    """The IVF nprobe knob trades recall for work, exactly:
    (a) shared (query, neighbor) pairs score identically to brute force
        (same fold order, same rounding);
    (b) recall@10 is monotone in nprobe;
    (c) probing ALL cells degenerates to brute force — recall 1.0."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators import (
        similarity as S,
    )
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    qids = emb.filter(F.col("vec_id").between(100, 104)).select("vec_id")
    brute = S.cosine_topk(emb, emb.join(qids, "vec_id", "left_semi"), k=10).collect()
    b_scores = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in brute}

    def recall(nprobe: int) -> float:
        ivf = S.ivf_topk(emb, qids, n_seeds=8, k=10, nprobe=nprobe).collect()
        for r in ivf:
            key = (r["query_id"], r["neighbor_id"])
            if key in b_scores:
                assert r["cos_sim"] == b_scores[key]
        pairs = {(r["query_id"], r["neighbor_id"]) for r in ivf}
        return len(pairs & set(b_scores)) / len(b_scores)

    r2, r4, r8 = recall(2), recall(4), recall(8)
    assert r2 <= r4 <= r8, (r2, r4, r8)
    assert r8 == 1.0, f"nprobe=all must equal brute force, got {r8}"
    assert r2 > 0.0


def test_in_row_ranking_rejects_zero_norm_vectors(spark):
    """The no-NaN contract, enforced (ADVICE r10): ivf_topk's and
    ivf_assign_with_distance's in-row ranking forms mirror the window's
    ORDER BY cs DESC only for non-NaN cosines, so a zero-norm vector
    (cosine = 0/0 = NaN) must raise loudly at execution instead of
    silently diverging from SQL window ordering. Also pins that the
    fixture corpora actually satisfy the contract."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators import (
        similarity as S,
    )
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.tables import load_table

    # a 10-vector corpus whose vec_id=3 is the zero vector
    rows = [
        (i, [0.0] * 4 if i == 3 else [float(i + j) for j in range(4)])
        for i in range(10)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qids = emb.filter(F.col("vec_id") == 5).select("vec_id")
    with pytest.raises(SparkRuntimeException, match="zero-norm vector"):
        S.ivf_topk(emb, qids, n_seeds=4, k=3, nprobe=2).collect()
    seeds = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("seed_id"), F.col("embedding").alias("seed_vec")
    )
    with pytest.raises(SparkRuntimeException, match="zero-norm vector"):
        S.ivf_assign_with_distance(emb, seeds).collect()
    # the fixture corpus satisfies the contract at every SF
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        n_zero = (
            load_table(spark, sf, "embeddings")
            .filter(S.norm(F.col("embedding")) == 0.0)
            .count()
        )
        assert n_zero == 0, (sf, n_zero)


def test_in_row_ranking_rejects_nan_component_vectors(spark):
    """A NaN component makes the norm NaN, and Spark's ``NaN != 0.0`` is
    TRUE — the guard must test NaN itself, or the NaN cosine reaches the
    in-row ranking the contract protects. Covers the IVF assignment and
    split_drifted_cells' child assignment, the two checked_norm users
    ranking member rows."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators import (
        similarity as S,
    )

    rows = [
        (i, [float("nan"), 1.0, 1.0] if i == 3 else [float(i + j) for j in range(3)], 0)
        for i in range(6)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, cell long")
    seeds = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.5]), (1, [0.0, 1.0, 0.5])], "seed_id long, seed_vec array<double>"
    )
    with pytest.raises(SparkRuntimeException, match="zero-norm vector"):
        S.ivf_assign_with_distance(emb.drop("cell"), seeds).collect()
    with pytest.raises(SparkRuntimeException, match="zero-norm vector"):
        S.split_drifted_cells(emb, seeds, [0], iters=1)[1].collect()


def test_lsh_multiprobe_dominates_single_bucket(spark):
    """Probing Hamming-distance-1 buckets must never lose a candidate
    the single-bucket probe had, and recall@10 vs brute force must not
    decrease (on these fixtures it jumps from ~0 to >0)."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators import (
        similarity as S,
    )
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk(emb, q, k=10).collect()
    }
    single = {
        (r["query_id"], r["neighbor_id"])
        for r in S.lsh_bucketed_topk(emb, q, dim=64, k=10).collect()
    }
    multi_rows = S.lsh_multiprobe_topk(emb, q, dim=64, k=10).collect()
    multi = {(r["query_id"], r["neighbor_id"]) for r in multi_rows}
    assert len(multi & brute) >= len(single & brute)
    # exactly-once candidates: (query, neighbor) pairs never duplicate
    assert len(multi_rows) == len(multi)


def test_rp_topk_recall_and_exact_rerank(spark):
    """JL random-projection ANN: (a) candidate widening is monotone in
    recall; (b) with n_candidates = corpus it IS brute force (the
    re-rank is exact full-dimension cosine); (c) shared pairs score
    identically to brute force."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators import (
        similarity as S,
    )
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    q = emb.filter(F.col("vec_id") < 5)
    brute = S.cosine_topk(emb, q, k=10).collect()
    b_scores = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in brute}

    def run(n_candidates: int) -> set:
        rows = S.rp_topk(emb, q, dim=64, k=10, n_candidates=n_candidates).collect()
        for r in rows:
            key = (r["query_id"], r["neighbor_id"])
            if key in b_scores:
                assert r["cos_sim"] == b_scores[key]
        return {(r["query_id"], r["neighbor_id"]) for r in rows}

    r30 = len(run(30) & set(b_scores)) / len(b_scores)
    r100 = len(run(100) & set(b_scores)) / len(b_scores)
    rall = len(run(n) & set(b_scores)) / len(b_scores)
    assert r30 <= r100 <= rall, (r30, r100, rall)
    assert rall == 1.0
    assert r30 > 0.0


def test_skyline_matches_brute_force_and_is_partition_invariant(spark):
    """skyline_2d == the quadratic dominance definition, for every
    orientation of ties/duplicates in the fixture; and the result is a
    pure function of the value set (invariant to input partitioning)."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators.skyline import (
        skyline_2d,
    )

    p = spark.read.parquet("/root/testdata/sf0.001/part.parquet").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    rows = [(r.p_partkey, r.p_retailprice, r.p_size) for r in p.collect()]
    def dominated(a):
        return any(
            b[1] <= a[1] and b[2] >= a[2] and (b[1] < a[1] or b[2] > a[2])
            for b in rows
        )
    expected = sorted(r[0] for r in rows if not dominated(r))

    got = sorted(
        r.p_partkey
        for r in skyline_2d(p, "p_retailprice", "p_size").collect()
    )
    assert got == expected
    got7 = sorted(
        r.p_partkey
        for r in skyline_2d(p.repartition(7), "p_retailprice", "p_size").collect()
    )
    assert got7 == expected


def test_skyline_equal_minimize_spans_partitions(spark):
    """Regression: an equal-minimize group large enough to span several
    range partitions, with AQE partition coalescing OFF so the range
    exchange genuinely keeps multiple partitions. With (asc, asc) range
    partitioning the dominating pair (max = N-1) sits in the LAST
    partition and cannot suppress pairs in earlier ones — the correct
    (min asc, max desc) order puts it first and exactly one row
    survives."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators.skyline import (
        skyline_2d,
    )

    prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        n = 50_000
        df = spark.range(n).select(
            F.lit(1.0).alias("cost"), F.col("id").cast("double").alias("gain")
        )
        got = skyline_2d(df, "cost", "gain").collect()
        assert len(got) == 1, f"expected 1 survivor, got {len(got)}"
        assert got[0]["gain"] == float(n - 1)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)


def test_skyline_plan_has_no_nested_loop(spark):
    """The whole point: no BroadcastNestedLoopJoin / CartesianProduct —
    the dominance compare must stay a sweep, not an O(n^2) join."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators.skyline import (
        skyline_2d,
    )

    p = spark.read.parquet("/root/testdata/sf0.001/part.parquet").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    plan = skyline_2d(p, "p_retailprice", "p_size")._jdf.queryExecution().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bloom_filter_no_false_negatives_and_bounded_fpr(spark):
    """Structural guarantee: every inserted key probes True. Statistical
    check: with n=300 keys in m=16384 bits / 3 hashes the expected FPR
    is ~2e-4, so over 3000 non-member probes we allow a generous <1%."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators.bloom import (
        bloom_build,
        bloom_probe,
    )

    members = spark.range(0, 300).withColumnRenamed("id", "k")
    bloom = bloom_build(members, "k", m_bits=16384)
    probes = spark.range(0, 3300).withColumnRenamed("id", "k")
    res = bloom_probe(probes, "k", bloom, m_bits=16384).collect()
    by_k = {r["k"]: r["bloom_maybe"] for r in res}
    assert len(by_k) == 3300  # left joins must not duplicate or drop rows
    assert all(by_k[k] for k in range(300)), "false negative!"
    fp = sum(1 for k in range(300, 3300) if by_k[k])
    assert fp < 30, f"false-positive rate too high: {fp}/3000"


def test_bloom_probe_handles_empty_filter(spark):
    """An empty key set yields an empty lane table: every probe must
    come back False (coalesce-0 path), not null or True."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators.bloom import (
        bloom_build,
        bloom_probe,
    )

    empty = spark.range(0).withColumnRenamed("id", "k")
    bloom = bloom_build(empty, "k")
    res = bloom_probe(spark.range(5).withColumnRenamed("id", "k"), "k", bloom).collect()
    assert all(r["bloom_maybe"] is False for r in res)


def test_global_running_sum_matches_single_partition_window(spark):
    """The two-level prefix sum must equal the naive single-partition
    window bit-for-bit, including with AQE partition-coalescing disabled
    and ties in the leading order column split across range partitions
    (the unique tiebreak column makes the order total)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators.prefix import (
        global_running_sum,
    )

    df = (
        spark.range(0, 5000)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 7).alias("grp"),  # heavy ties in leading col
            ((F.col("id") * 37) % 1000).cast("decimal(18,2)").alias("val"),
        )
        .repartition(11)  # scramble input placement
    )
    naive = {
        r["k"]: r["run"]
        for r in df.withColumn(
            "run",
            F.sum("val").over(
                Window.orderBy("grp", "k").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        ).collect()
    }
    prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        for n_parts in (3, 16):
            got = {
                r["k"]: r["run"]
                for r in global_running_sum(
                    df, ["grp", "k"], F.col("val"), out_col="run", num_partitions=n_parts
                ).collect()
            }
            assert got == naive, f"mismatch at num_partitions={n_parts}"
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)


def test_grouped_checksum_detects_mutation_and_is_partition_invariant(spark):
    from pyspark.sql import functions as F

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators.integrity import (
        grouped_checksum,
    )

    df = spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        F.concat(F.lit("v"), F.col("id")).alias("payload"),
    )
    cols = [F.col("id"), F.col("payload")]
    base = {
        r["grp"]: (r["n_rows"], r["checksum"])
        for r in grouped_checksum(df, cols, ["grp"]).collect()
    }
    # partition-layout independence (commutative combine)
    re = {
        r["grp"]: (r["n_rows"], r["checksum"])
        for r in grouped_checksum(df.repartition(13), cols, ["grp"]).collect()
    }
    assert re == base
    # a single mutated cell must flip exactly its group's checksum
    mut = df.withColumn(
        "payload", F.when(F.col("id") == 500, F.lit("CORRUPT")).otherwise(F.col("payload"))
    )
    after = {
        r["grp"]: (r["n_rows"], r["checksum"])
        for r in grouped_checksum(mut, cols, ["grp"]).collect()
    }
    changed = [g for g in base if after[g] != base[g]]
    assert changed == [str(500 % 3)], (changed, base, after)


def test_global_row_number_contiguous_and_partition_invariant(spark):
    from pyspark.sql import functions as F

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators.prefix import (
        global_row_number,
    )

    df = spark.range(0, 2000).select(
        F.col("id"), ((F.col("id") * 7919) % 100).alias("k")
    ).repartition(9)
    for n_parts in (4, 17):
        rows = global_row_number(
            df, ["k", "id"], out_col="rn", num_partitions=n_parts
        ).collect()
        got = [r["id"] for r in sorted(rows, key=lambda r: r["rn"])]
        want = [r["id"] for r in sorted(rows, key=lambda r: (r["k"], r["id"]))]
        assert got == want
        assert sorted(r["rn"] for r in rows) == list(range(1, 2001))


def test_exact_quantile_disc_matches_sorted_definition(spark):
    """ceil(q*N) 1-based pick over the histogram == indexing the sorted
    values directly, including heavy duplicates and tiny groups."""
    import math

    from pyspark.sql import functions as F

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators.buckets import (
        exact_quantile_disc,
    )

    data = [("a", v) for v in [5, 1, 3, 3, 3, 9, 7, 3]] + [("b", v) for v in [2, 2, 2]] + [
        ("c", 42)
    ]
    df = spark.createDataFrame(data, "g string, v int").repartition(5)
    got = {
        r["g"]: (r["p50"], r["p90"])
        for r in exact_quantile_disc(
            df, "v", {"p50": (1, 2), "p90": (9, 10)}, group_by=("g",)
        ).collect()
    }
    for g in ("a", "b", "c"):
        vals = sorted(v for gg, v in data if gg == g)
        want = tuple(vals[math.ceil(q * len(vals)) - 1] for q in (0.5, 0.9))
        assert got[g] == want, (g, got[g], want)


def test_exact_quantile_disc_global_no_groups(spark):
    """group_by=() computes global quantiles (the cumulative window then
    runs over the whole histogram — post-reduction, so still fine)."""
    from pyspark.sql import functions as F

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators.buckets import (
        exact_quantile_disc,
    )

    df = spark.range(1, 101).select(F.col("id").alias("v"))  # 1..100
    r = exact_quantile_disc(df, "v", {"p50": (1, 2), "p99": (99, 100)}).collect()
    assert len(r) == 1 and (r[0]["p50"], r[0]["p99"]) == (50, 99)


def test_bloom_build_partition_invariant(spark):
    """The lane bitmap must be identical regardless of input layout
    (bit_or is commutative/idempotent)."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators.bloom import (
        bloom_build,
    )

    keys = spark.range(0, 500).withColumnRenamed("id", "k")
    a = {(r["lane"], r["bits"]) for r in bloom_build(keys, "k").collect()}
    b = {
        (r["lane"], r["bits"])
        for r in bloom_build(keys.repartition(13), "k").collect()
    }
    assert a == b and len(a) > 0


def test_exact_quantile_disc_ignores_nulls(spark):
    """NULLs contribute neither to N nor to the pick position
    (percentile_disc / DuckDB quantile_disc semantics) — verified
    against DuckDB itself, since the r2 ADVICE divergence was exactly
    here: Spark counted the NULL histogram row in __total and sorted it
    first in the cumulative window."""
    import duckdb

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators.buckets import (
        exact_quantile_disc,
    )

    data = [("a", 1), ("a", None), ("a", 3), ("a", None), ("a", 9), ("b", None), ("b", 4)]
    df = spark.createDataFrame(data, "g string, v int").repartition(3)
    got = {
        r["g"]: (r["p50"], r["p90"])
        for r in exact_quantile_disc(
            df, "v", {"p50": (1, 2), "p90": (9, 10)}, group_by=("g",)
        ).collect()
    }
    con = duckdb.connect()
    want = {
        g: (p50, p90)
        for g, p50, p90 in con.execute(
            "SELECT g, quantile_disc(v, 0.5), quantile_disc(v, 0.9)"
            " FROM (SELECT * FROM (VALUES " + ", ".join(
                f"('{g}', {'NULL' if v is None else v})" for g, v in data
            ) + ") t(g, v)) GROUP BY g"
        ).fetchall()
    }
    assert got == want, (got, want)


def test_fan_out_small_scan_is_identity_at_scale(spark, tmp_path):
    """The fan-out only fires for file scans reading fewer files than
    cores — at production file counts (>= cores) and for non-file frames
    it must be the exact identity (no shuffle added at 100 TB, no .rdd
    probe that would execute AQE stages at plan-build time)."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.tables import (
        fan_out_small_scan,
    )

    target = spark.sparkContext.defaultParallelism
    one = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(one)
    small = spark.read.parquet(one)
    assert len(small.inputFiles()) < target
    assert fan_out_small_scan(small).rdd.getNumPartitions() == target

    many = str(tmp_path / "many")
    spark.range(10_000).repartition(target + 4).write.parquet(many)
    big = spark.read.parquet(many)
    assert len(big.inputFiles()) >= target
    assert fan_out_small_scan(big) is big

    # non-file frames (in-memory ranges) pass through untouched —
    # and the probe is pure metadata, so no AQE stage can execute here
    mem = spark.range(100, numPartitions=1)
    assert fan_out_small_scan(mem) is mem


def test_exact_quantile_disc_all_null_group_emits_row(spark):
    """A group whose values are ALL NULL must still emit a row with NULL
    quantiles (SQL GROUP BY semantics, matching DuckDB quantile_disc) —
    the NULL pre-filter must not drop the group itself."""
    import duckdb

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators.buckets import (
        exact_quantile_disc,
    )

    data = [("a", 1), ("a", 9), ("b", None), ("b", None)]
    df = spark.createDataFrame(data, "g string, v int").repartition(3)
    rows = {
        r["g"]: r["p50"]
        for r in exact_quantile_disc(df, "v", {"p50": (1, 2)}, group_by=("g",)).collect()
    }
    con = duckdb.connect()
    want = dict(
        con.execute(
            "SELECT g, quantile_disc(v, 0.5) FROM (VALUES "
            + ", ".join(f"('{g}', {'NULL' if v is None else v})" for g, v in data)
            + ") t(g, v) GROUP BY g"
        ).fetchall()
    )
    assert rows == want == {"a": 1, "b": None}


def test_exact_quantile_disc_null_group_key_keeps_values(spark):
    """A NULL group KEY is a legitimate group (GROUP BY groups NULLs
    together in both engines); only NULL *values* are excluded from the
    quantile. The r3 ADVICE flagged that re-attaching groups with plain
    equality dropped the NULL-keyed group's computed row — this pins the
    null-safe join against DuckDB, multi-key included."""
    import duckdb

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators.buckets import (
        exact_quantile_disc,
    )

    data = [
        (None, "x", 1),
        (None, "x", 9),
        (None, None, 5),
        ("a", "x", 4),
        ("a", None, None),
        ("a", None, 7),
    ]
    df = spark.createDataFrame(data, "g string, h string, v int").repartition(3)
    got = {
        (r["g"], r["h"]): r["p50"]
        for r in exact_quantile_disc(
            df, "v", {"p50": (1, 2)}, group_by=("g", "h")
        ).collect()
    }
    con = duckdb.connect()
    want = {
        (g, h): p50
        for g, h, p50 in con.execute(
            "SELECT g, h, quantile_disc(v, 0.5) FROM (VALUES "
            + ", ".join(
                "("
                + ", ".join("NULL" if x is None else repr(x) for x in (g, h, v))
                + ")"
                for g, h, v in data
            )
            + ") t(g, h, v) GROUP BY g, h"
        ).fetchall()
    }
    assert got == want, (got, want)
    # the NULL-keyed groups carry their REAL quantiles, not NULL
    assert got[(None, "x")] == 1 and got[(None, None)] == 5 and got[("a", None)] == 7


def test_rrf_fusion_consistent_with_stage_lists(spark):
    """Round-7 cross-query consistency for x_retrieval_rrf_fusion: the
    sparse ranks must be exactly the registered BM25 query's own
    (bm25 DESC, doc_id ASC) ordering, the ppm scores must be the
    integer RRF formula applied to the reported ranks, and fused_rank
    must be the (-ppm, doc_id) permutation. Dense equivalence vs an
    independent implementation is the DuckDB oracle's job; here we pin
    the list shape (exactly 20 dense members) and fixture
    non-degeneracy (the lists overlap on at least one doc, so the
    fusion actually mixes)."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.plans import (
        queries as catalog,
    )

    _Q = catalog.queries()
    try:
        bm = _Q["x_bm25_search"](spark, SF).collect()
        want_sparse = {
            r.doc_id: i + 1
            for i, r in enumerate(
                sorted(bm, key=lambda r: (-r.bm25, r.doc_id))
            )
        }
        fused = _Q["x_retrieval_rrf_fusion"](spark, SF).collect()
        got_sparse = {r.doc_id: r.r_sparse for r in fused if r.r_sparse > 0}
        assert got_sparse == want_sparse

        dense = {r.doc_id: r.r_dense for r in fused if r.r_dense > 0}
        assert len(dense) == 20
        assert sorted(dense.values()) == list(range(1, 21))
        # overlap: the fusion genuinely mixes the two lists
        assert set(dense) & set(want_sparse)

        for r in fused:
            want_ppm = (1_000_000 // (60 + r.r_sparse) if r.r_sparse else 0) + (
                1_000_000 // (60 + r.r_dense) if r.r_dense else 0
            )
            assert r.rrf_ppm == want_ppm
        order = sorted(fused, key=lambda r: (-r.rrf_ppm, r.doc_id))
        assert [r.fused_rank for r in order] == list(range(1, len(fused) + 1))
    finally:
        query_scope.release()


def test_rank_overlap_curve_consistent_with_rrf_lists(spark):
    """Round-7 cross-query consistency: the curve and the RRF fusion
    consume the SAME _rank_stage_lists owner, so the curve at depth d
    must equal the count of docs whose ranks in the RRF output are
    both positive and both <= d. Also pins non-degeneracy: the curve
    is non-constant (the probed m=6/m=9 steps at sf0.001)."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark import (
        query_scope,
    )
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.plans import (
        queries as catalog,
    )

    _Q = catalog.queries()
    try:
        fused = _Q["x_retrieval_rrf_fusion"](spark, SF).collect()
        ms = [
            max(r.r_sparse, r.r_dense)
            for r in fused
            if r.r_sparse > 0 and r.r_dense > 0
        ]
        curve = {
            r.depth: (r.n_overlap, r.overlap_ppm)
            for r in _Q["x_retrieval_rank_overlap_curve"](spark, SF).collect()
        }
        assert sorted(curve) == list(range(1, 21))
        for d in range(1, 21):
            n = sum(1 for m in ms if m <= d)
            assert curve[d] == (n, n * 1_000_000 // d), (d, curve[d], n)
        assert len({v for v, _ in curve.values()}) > 1, "constant curve"
    finally:
        query_scope.release()


def test_ivf_incremental_assign_consistent_with_full_index(spark):
    """Incremental IVF maintenance (VERDICT r7 #2), the no-retrain-drift
    property: a batch vector assigned to the EXISTING centroid table
    lands in exactly the cell a full-index rebuild (x_ann_ivf_topk's
    ivf_cells over the whole corpus, same seeds) would give it — the
    incremental path changes WHEN assignment happens, never WHERE."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators import (
        similarity as S,
    )
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    seeds = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("seed_id"), F.col("embedding").alias("seed_vec")
    )
    batch = emb.filter(F.col("vec_id") % 10 == 9)

    incr = {
        r["vec_id"]: r["cell"]
        for r in S.ivf_assign_with_distance(batch, seeds).collect()
    }
    full = {
        r["vec_id"]: r["cell"]
        for r in S.ivf_cells(emb, seeds, 1).collect()
    }
    assert len(incr) == 50
    for vid, cell in incr.items():
        assert full[vid] == cell, (vid, cell, full[vid])


def test_ivf_incremental_assign_drift_semantics(spark):
    """The staleness diagnostic on a constructed corpus: a batch that
    sits ON the centroids drifts to ~0; a batch pushed away from them
    drifts above 1e6. Also pins n_train/n_new bookkeeping."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators import (
        similarity as S,
    )

    def vec(x, y):
        return [float(x), float(y)]

    # two clean cells on the axes; training members are slightly rotated
    index = spark.createDataFrame(
        [
            (0, vec(1, 0)),
            (1, vec(0, 1)),
            (10, vec(1, 0.2)),
            (11, vec(1, -0.2)),
            (12, vec(0.2, 1)),
        ],
        "vec_id long, embedding array<float>",
    )
    seeds = index.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("seed_id"), F.col("embedding").alias("seed_vec")
    )
    # batch A: exactly the centroids -> dist 0, drift 0
    on_cent = spark.createDataFrame(
        [(100, vec(2, 0)), (101, vec(0, 3))], "vec_id long, embedding array<float>"
    )
    rows = {r["cell"]: r for r in S.ivf_assignment_drift(index, on_cent, seeds).collect()}
    assert rows[0]["n_train"] == 3 and rows[1]["n_train"] == 2
    assert rows[0]["n_new"] == 1 and rows[1]["n_new"] == 1
    assert rows[0]["new_mean_dist_ppm"] == 0 and rows[0]["drift_ppm"] == 0

    # batch B: rotated twice as far as any training member -> worse fit
    far = spark.createDataFrame(
        [(100, vec(1, 0.6)), (101, vec(0.6, 1))], "vec_id long, embedding array<float>"
    )
    rows = {r["cell"]: r for r in S.ivf_assignment_drift(index, far, seeds).collect()}
    for cell in (0, 1):
        assert rows[cell]["new_mean_dist_ppm"] > rows[cell]["train_mean_dist_ppm"]
        assert rows[cell]["drift_ppm"] > 1_000_000

    # a cell with no new arrivals keeps NULL means and n_new = 0
    one_side = spark.createDataFrame(
        [(100, vec(2, 0.1))], "vec_id long, embedding array<float>"
    )
    rows = {r["cell"]: r for r in S.ivf_assignment_drift(index, one_side, seeds).collect()}
    assert rows[1]["n_new"] == 0
    assert rows[1]["new_mean_dist_ppm"] is None and rows[1]["drift_ppm"] is None

    # a cell whose ONLY members are new arrivals (a centroid that
    # attracted no training vectors) must still surface — it is the
    # strongest re-cluster signal — with n_train = 0 and NULL baseline
    far_seed = spark.createDataFrame(
        [(0, vec(1, 0)), (1, vec(0, 1)), (7, vec(-1, -1))],
        "vec_id long, embedding array<float>",
    ).select(F.col("vec_id").alias("seed_id"), F.col("embedding").alias("seed_vec"))
    neg_batch = spark.createDataFrame(
        [(200, vec(-2, -2))], "vec_id long, embedding array<float>"
    )
    rows = {
        r["cell"]: r for r in S.ivf_assignment_drift(index, neg_batch, far_seed).collect()
    }
    assert rows[7]["n_train"] == 0 and rows[7]["n_new"] == 1
    assert rows[7]["train_mean_dist_ppm"] is None and rows[7]["drift_ppm"] is None
    assert rows[7]["new_mean_dist_ppm"] == 0  # batch sits on the centroid
