"""Property-style unit tests for pure helpers (SURVEY §5.6)."""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import given, settings
from hypothesis import strategies as st

from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.functions.names import (
    dedupe_column_names,
    sanitize_column_name,
)
from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.sources.windows import (
    split_windows,
)


@given(st.text(max_size=400))
@settings(max_examples=200, deadline=None)
def test_sanitizer_idempotent_and_legal(name):
    out = sanitize_column_name(name)
    assert sanitize_column_name(out) == out  # idempotent
    assert len(out) <= 300
    assert all(c.isalnum() or c == "_" for c in out)
    assert not (out and out[0].isdigit())


def test_sanitizer_reference_cases():
    # reference chat.py:21-26 semantics
    assert sanitize_column_name("status.name") == "status_name"
    assert sanitize_column_name("1abc") == "_1abc"
    assert sanitize_column_name("nº do ticket") == "n__do_ticket"
    assert sanitize_column_name("a" * 400) == "a" * 300


def test_dedupe_keeps_first():
    assert dedupe_column_names(["a", "b", "a", "c", "b"]) == [True, True, False, True, False]


@given(
    st.datetimes(min_value=datetime(2000, 1, 1), max_value=datetime(2030, 1, 1)),
    st.timedeltas(min_value=timedelta(minutes=1), max_value=timedelta(days=400)),
    st.timedeltas(min_value=timedelta(minutes=1), max_value=timedelta(days=30)),
)
@settings(max_examples=100, deadline=None)
def test_split_windows_cover_exactly(start, span, delta):
    end = start + span
    wins = split_windows(start, end, delta)
    assert wins[0][0] == start and wins[-1][1] == end
    for (a1, b1), (a2, _) in zip(wins, wins[1:]):
        assert b1 == a2
    assert all(a < b for a, b in wins)
    assert all((b - a) <= delta for a, b in wins)


def test_full_outer_null_keys_never_match(spark):
    """Null join keys match nothing but unmatched rows survive the full
    outer (SQL semantics; deliberate deviation from the reference's
    astype(str) 'nan'=='nan' artifact — operators/joins.py)."""
    from pyspark.sql import functions as F

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators.joins import (
        full_outer_with_suffixes,
    )

    l = spark.createDataFrame([("a", None), ("b", "1")], "name string, k string")
    r = spark.createDataFrame(
        [("x", None), ("y", "1"), ("z", "2")], "name string, k string"
    )
    out = full_outer_with_suffixes(
        l, r, left_key=F.col("k"), right_key=F.col("k"), suffixes=("_l", "_r")
    )
    assert out.count() == 4  # b-y matched; a, x, z retained unmatched
    matched = out.filter(F.col("name_l").isNotNull() & F.col("name_r").isNotNull())
    assert [(r["name_l"], r["name_r"]) for r in matched.collect()] == [("b", "y")]


def test_salted_aggregate_matches_plain(spark):
    """Two-phase salted aggregation equals the direct groupBy (skew.py)."""
    from pyspark.sql import functions as F

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators.skew import (
        salted_aggregate,
    )

    # 90% of rows share one hot key
    df = spark.range(0, 2000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(F.lit("cold")).alias("k"),
        F.col("id").alias("v"),
    )
    got = {
        r["k"]: (r["total"], r["n"], r["lo"], r["hi"])
        for r in salted_aggregate(
            df,
            keys=["k"],
            aggs={"total": ("sum", "v"), "n": ("count", "v"), "lo": ("min", "v"), "hi": ("max", "v")},
            salt_on=F.col("v"),
            salt_buckets=8,
        ).collect()
    }
    want = {
        r["k"]: (r["total"], r["n"], r["lo"], r["hi"])
        for r in df.groupBy("k")
        .agg(
            F.sum("v").alias("total"),
            F.count("v").alias("n"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .collect()
    }
    assert got == want


def test_salted_join_matches_plain(spark):
    """Salted replicated join equals the direct join for inner and left."""
    from pyspark.sql import functions as F

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators.skew import (
        salted_join,
    )

    big = spark.range(0, 1000).select(
        F.when(F.col("id") % 5 < 4, F.lit(1)).otherwise((F.col("id") % 50) + 2).alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.range(0, 40).select(F.col("id").alias("k"), (F.col("id") * 100).alias("w"))

    for how in ("inner", "left"):
        got = sorted(
            (r["k"], r["v"], r["w"])
            for r in salted_join(big, small, on="k", salt_on=F.col("v"), salt_buckets=4, how=how).collect()
        )
        want = sorted((r["k"], r["v"], r["w"]) for r in big.join(small, "k", how).collect())
        assert got == want, how


def test_from_json_corrupt_record_capture(spark):
    """T4 in-band error semantics for semi-structured parsing: with a
    _corrupt_record column in the schema, malformed payloads land
    whole in that column (valid rows parse, corrupt rows are KEPT, not
    dropped) — the same carry-errors-in-band contract as the REST
    enrichment path (reference chat.py:289-291)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [('{"k": 69}',), ("{bad{", ), (None,)], "props string"
    )
    parsed = df.select(
        "props",
        F.from_json(
            "props",
            "k bigint, _corrupt_record string",
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("p"),
    ).select("props", "p.k", "p._corrupt_record")
    rows = {r.props: (r.k, r._corrupt_record) for r in parsed.collect()}
    assert rows['{"k": 69}'] == (69, None)
    assert rows["{bad{"] == (None, "{bad{")   # kept, in-band
    assert rows[None] == (None, None)


def test_observe_quality_gate_single_pass(spark):
    """Quality metrics ride the write action (no second scan) and the
    gate raises exactly when an invariant breaks."""
    import pytest

    from pyspark.sql import functions as F
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators.guards import (
        QualityViolation,
        enforce_quality,
        observe_quality,
    )

    df = spark.range(100).select(
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id").cast("string"))
        .alias("n_ticket")
    )
    guarded, obs = observe_quality(df, ["n_ticket"])
    guarded.write.format("noop").mode("overwrite").save()
    metrics = enforce_quality(obs, max_null_frac=0.2)     # 10% nulls: passes
    assert metrics == {"n_rows": 100, "n_null_n_ticket": 10}

    guarded2, obs2 = observe_quality(df, ["n_ticket"], name="strict")
    guarded2.write.format("noop").mode("overwrite").save()
    with pytest.raises(QualityViolation, match="n_ticket"):
        enforce_quality(obs2, max_null_frac=0.05)         # 10% nulls: fails

    empty, obs3 = observe_quality(df.filter(F.lit(False)), ["n_ticket"], name="e")
    empty.write.format("noop").mode("overwrite").save()
    with pytest.raises(QualityViolation, match="min_rows"):
        enforce_quality(obs3)


def test_driver_window_leads_registry_order():
    """The external driver checks the FIRST 50 registry entries; the
    rotation mechanism must actually put DRIVER_WINDOW there, exactly
    and in order, with every name resolving."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.plans.queries import (
        DRIVER_WINDOW,
        _REGISTRY,
        oracle_sql,
        queries,
    )

    assert len(DRIVER_WINDOW) == 50
    assert len(set(DRIVER_WINDOW)) == 50
    missing = [n for n in DRIVER_WINDOW if n not in _REGISTRY]
    assert not missing, missing
    assert list(queries())[:50] == DRIVER_WINDOW
    # every window query must have an oracle (it is there to be CHECKED)
    oracles = oracle_sql()
    assert [n for n in DRIVER_WINDOW if n not in oracles] == []


def test_sensitive_sf01_set_resolves_and_is_oracle_backed():
    """The permanent sf0.1 strict-value set (tools/parity_check.py::
    SENSITIVE) must stay in sync with the registry: every name
    registered and oracle-backed, so the per-round sf0.1 gate can run
    it verbatim."""
    import sys

    sys.path.insert(0, ".")
    from tools.parity_check import SENSITIVE

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.plans.queries import (
        _REGISTRY,
        oracle_sql,
    )

    assert len(SENSITIVE) == len(set(SENSITIVE))
    missing = [n for n in SENSITIVE if n not in _REGISTRY]
    assert not missing, missing
    oracles = oracle_sql()
    assert [n for n in SENSITIVE if n not in oracles] == []


def test_lsh_pairs_ctes_is_the_r2_generator_output():
    """_LSH_PAIRS_CTES (consumed by the pair/cluster/survivor/leakage/
    pagerank/recall oracles) must be EXACTLY the rows_per_band=2
    instantiation of the parameterized banding generator — the
    third-review hoist was byte-identical, and this test keeps any
    future generator edit an explicit, re-verified change to every
    consumer rather than a silent drift."""
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.plans import (
        queries_ext as qe,
    )

    assert qe._LSH_PAIRS_CTES == qe._lsh_pairs_ctes_sql(
        rows_per_band=2, suffix="", include_sigs=True
    )
    # and the key structural facts of the r=2 scheme stay pinned
    assert "md5(sig[2*b.band + 1] || '|' || sig[2*b.band + 2])" in qe._LSH_PAIRS_CTES
    assert "unnest([0, 1, 2, 3])" in qe._LSH_PAIRS_CTES


def test_iterative_query_bounds_are_guarded():
    """VERDICT r5 #4: the two sequential-job loops must reject
    out-of-class arguments instead of silently scheduling thousands of
    serial jobs (kcenter) or generating unbounded oracle text (the
    unrolled CTE builders) — the pivot-domain guard's class."""
    import pytest

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.operators import (
        similarity as S,
    )
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.plans import (
        queries_retrieval as qr,
    )

    with pytest.raises(ValueError, match="sequential Spark job"):
        S.kcenter_select(None, k=S.KCENTER_MAX_K + 1)
    # the cap is overridable for a caller who accepts the serial cost
    # (k<1 short-circuits before any Spark work, so None is safe here)
    assert S.kcenter_select(None, k=0, max_k=0) == []

    with pytest.raises(ValueError, match="quadratic in k"):
        qr._kcenter_oracle(65)
    with pytest.raises(ValueError, match="sequential driver jobs"):
        qr._pi_oracle(0)
    with pytest.raises(ValueError, match="sequential driver jobs"):
        qr._pi_oracle(qr._PI_MAX_ITERS + 1)
    # the registered constants themselves sit inside the guards
    assert 1 <= qr._PI_ITERS <= qr._PI_MAX_ITERS
    assert 1 <= qr._KC_K <= 64
    assert qr._pi_oracle(qr._PI_ITERS)
    assert qr._kcenter_oracle(qr._KC_K)


def test_lm3_mixture_weights_are_a_dyadic_unit_partition():
    """The trigram mixture's correctness premise: λ weights are exact
    ppm integers that partition 1e6 (so per-trigram mass sums to
    exactly one millionth grid) and each is a dyadic fraction of 1e6
    (the reason integer division stays engine-portable)."""
    # plans.queries first: queries_train is not a supported direct
    # entry (partial-init ImportError via queries_curate)
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.plans import (  # noqa: F401
        queries,
    )
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.plans.queries_train import (
        _LM3_W,
        _LM_SPLIT,
    )

    assert sum(_LM3_W.values()) == 1_000_000
    for w in _LM3_W.values():
        # dyadic: 1e6/w is a power of two
        q, r = divmod(1_000_000, w)
        assert r == 0 and (q & (q - 1)) == 0, _LM3_W
    # the two LMs train on the SAME hash-split half (single owner)
    assert _LM_SPLIT == ("lmtrain", "80")


def test_bench_preflight_load_gate_is_bounded():
    """VERDICT r6 #5 + r7 #5: the bench pre-flight must sleep AT MOST
    once (bounded — the driver has to terminate), only when the sampled
    load exceeds the threshold, and must return BOTH samples — the raw
    pre-gate reading (recorded as loadavg_1m_raw, so the artifact shows
    the gate fired) and the post-sleep one (loadavg_1m_pre, describing
    the actual run)."""
    import bench

    calls: list[float] = []

    # quiet machine: no sleep, the one sample is both raw and final
    raw, load, slept = bench.preflight_load_gate(
        loadavg_fn=lambda: 0.3, sleep_fn=calls.append, threshold=1.0
    )
    assert (raw, load, slept, calls) == (0.3, 0.3, 0.0, [])

    # loaded machine: exactly one sleep, raw + SECOND sample returned
    samples = iter([2.25, 0.4])
    raw, load, slept = bench.preflight_load_gate(
        loadavg_fn=lambda: next(samples),
        sleep_fn=calls.append,
        threshold=1.0,
        sleep_sec=90.0,
    )
    assert (raw, load, slept) == (2.25, 0.4, 90.0)
    assert calls == [90.0]

    # still loaded after the sleep: report honestly, NO second sleep
    samples = iter([5.0, 3.0])
    raw, load, slept = bench.preflight_load_gate(
        loadavg_fn=lambda: next(samples), sleep_fn=calls.append
    )
    assert (raw, load, slept) == (5.0, 3.0, bench._PREFLIGHT_SLEEP_SEC)
    assert len(calls) == 2  # one more sleep, not two

    # unknown-loadavg platform: never sleeps, annotates None
    raw, load, slept = bench.preflight_load_gate(
        loadavg_fn=lambda: None, sleep_fn=calls.append
    )
    assert (raw, load, slept) == (None, None, 0.0)
    assert len(calls) == 2

    # the emitted line carries both fields, raw first
    import inspect

    src = inspect.getsource(bench.main)
    assert src.index('"loadavg_1m_raw":') < src.index('"loadavg_1m_pre":')


def test_bench_json_line_layout_protects_the_headline():
    """VERDICT r6 #4: the driver's fixed-size tail capture keeps the
    END of stdout — r4-r6 all lost the cold headline off the front.
    Pin the contract: bulky per-rep data is opt-in via env (absent by
    default), and the headline totals are the LAST keys of the emitted
    dict so they survive front truncation."""
    import inspect

    import bench

    src = inspect.getsource(bench.main)
    # reps only behind the env gate
    assert 'os.environ.get("SPARK_GRAFT_BENCH_REPS")' in src
    # the literal out-dict ends with the headline totals
    keys_order = [
        '"queries":',
        '"queries_warm":',
        '"value":',
        '"value_warm":',
    ]
    positions = [src.index(k) for k in keys_order]
    assert positions == sorted(positions), positions
    # and the opt-in reps insert happens AFTER the dict literal, so the
    # default line's final keys really are value/value_warm
    assert src.index('"value_warm":') < src.index(
        'if os.environ.get("SPARK_GRAFT_BENCH_REPS")'
    )


def test_mixture_epochs_isqrt_is_exact(spark):
    """The τ=2 weight is floor(sqrt(CAST(avail AS DOUBLE))) on both
    engines. Pin that this equals the true integer sqrt at the
    adversarial boundaries (m²−1, m², m²+1) up to the documented
    ~2^51 validity bound — the worst case is avail = m²−1 where the
    IEEE sqrt lands within one ulp of the integer m and a round-UP
    would make floor() overshoot."""
    import math

    import duckdb

    ms = [2, 3, 10, 1000, 2**20, 2**25, 47_453_132]  # last: m² ≈ 2^51
    vals = sorted({v for m in ms for v in (m * m - 1, m * m, m * m + 1)})
    want = {v: math.isqrt(v) for v in vals}

    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got_spark = {
        r.v: r.w
        for r in df.selectExpr(
            "v", "CAST(floor(sqrt(CAST(v AS DOUBLE))) AS BIGINT) AS w"
        ).collect()
    }
    assert got_spark == want

    got_duck = dict(
        duckdb.connect()
        .execute(
            "SELECT v, CAST(floor(sqrt(CAST(v AS DOUBLE))) AS BIGINT) "
            "FROM (SELECT unnest(?) AS v)",
            [vals],
        )
        .fetchall()
    )
    assert got_duck == want


def test_mixture_epochs_survives_huge_corpora(spark, tmp_path):
    """The budget·weight product overflows BIGINT once total·weight >
    2^62 — reachable at the 100 TB design point — so it rides
    DECIMAL(38,0) in Spark and HUGEINT in the oracle (the
    x_length_bucket_padding convention). Plant a 2^44-char lang
    (2·total·weight ≈ 1.5e20 > 2^63−1) and check both engines against
    exact Python integers."""
    import duckdb

    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.plans import (
        queries as catalog,
    )

    rows = [(0, "en", 2**44), (1, "zh", 1000)]
    spark.createDataFrame(
        rows, "doc_id long, lang string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    avail = {"en": 2**44, "zh": 1000}
    weight = {"en": 2**22, "zh": 31}
    total, wsum = sum(avail.values()), sum(weight.values())
    assert 2 * total * weight["en"] > 2**63 - 1  # the overflow is real
    want = {}
    for g, a in avail.items():
        t = (2 * total * weight[g]) // wsum
        want[g] = (a, weight[g], t, (t + a - 1) // a, (min(a, t) * 10**6) // t)

    got = {
        r["lang"]: (
            r["avail_chars"],
            r["weight"],
            r["target_chars"],
            r["epochs"],
            r["unique_ppm"],
        )
        for r in catalog.queries()["x_mixture_epochs"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == want

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.plans.queries import (
        oracle_sql,
    )

    got_o = {
        r[0]: tuple(r[1:])
        for r in con.execute(oracle_sql()["x_mixture_epochs"]).fetchall()
    }
    assert got_o == want


def test_bench_cache_state_sample_present_and_wellformed():
    """VERDICT r8 #7: the bench artifact must carry a page-cache sample
    next to the load samples, so a cache-cold capture (loadavg-invisible)
    is self-explaining from the JSON alone."""
    import inspect

    import bench

    s = bench.sample_cache_state("/root/testdata/sf0.001")
    assert set(s) == {"page_cache_mb", "cache_probe_ms", "cache_probe_mb"}
    assert s["page_cache_mb"] is None or s["page_cache_mb"] >= 0
    assert s["cache_probe_ms"] is not None and s["cache_probe_ms"] >= 0
    assert s["cache_probe_mb"] is not None and 0 < s["cache_probe_mb"] <= 8.01

    # emitted before the protected headline tail, sampled pre-JVM
    src = inspect.getsource(bench.main)
    assert "cache_state = sample_cache_state(sf_dir)" in src
    assert "**cache_state," in src
    assert src.index("**cache_state,") < src.index('"queries":')
    assert src.index("sample_cache_state") < src.index("get_spark")


#: The driver JVM policy of ``session.DRIVER_JAVA_OPTIONS``, as HotSpot reports
#: it, next to the collector the deployment below picks.
_DRIVER_VM = {
    "Tier4InvocationThreshold": "50000",
    "Tier4MinInvocationThreshold": "6000",
    "Tier4CompileThreshold": "150000",
    "Tier4BackEdgeThreshold": "400000",
    "UseParallelGC": "true",
}


def test_driver_jvm_runs_policy_and_keeps_deployment_java_options(tmp_path):
    """The policy goes in spark.driver.defaultJavaOptions, which Spark
    prepends to the deployment's extraJavaOptions: a property and a
    collector choice made there reach the JVM next to the policy (a
    collector in the policy too would stop HotSpot from starting, and
    ParallelGC, not the default G1, shows the deployment's flag arrived).
    The flags are read from the running VM, not the command line: Spark
    launches the driver with -XX:+IgnoreUnrecognizedVMOptions, so a
    misspelled flag would be dropped silently."""
    import json
    import os
    import subprocess
    import sys

    (tmp_path / "spark-defaults.conf").write_text(
        "spark.driver.extraJavaOptions -Dgraft.probe=1 -XX:+UseParallelGC\n"
    )
    code = f"""
import json, sys
sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
from integration_octadeskoctadesk_data_pipeline_useuniformes_spark.session import get_spark
spark = get_spark(app_name="jvm-policy-probe", master="local[1]")
jvm = spark.sparkContext._jvm
bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
print(json.dumps({{"probe": jvm.java.lang.System.getProperty("graft.probe"),
                  "vm": {{n: bean.getVMOption(n).getValue() for n in {sorted(_DRIVER_VM)!r}}}}}))
spark.stop()
"""
    env = dict(os.environ, SPARK_CONF_DIR=str(tmp_path), SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {"probe": "1", "vm": _DRIVER_VM}
