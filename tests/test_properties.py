"""Property-based tests (SURVEY.md §5.5): order-insensitivity of
aggregations, migration idempotence, claim uniqueness under races."""

from __future__ import annotations

import random

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from nova_pulsar_spark.functions.exact import sum_cents
from nova_pulsar_spark.streaming.state import lifecycle_batch

_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=50_000),
        ),
        min_size=1,
        max_size=60,
    ),
    seed=st.integers(min_value=0, max_value=2**16),
)
@_settings
def test_exact_sum_is_order_and_partition_insensitive(spark, rows, seed):
    """Σ via the cents idiom is identical for any row order and any
    partition count — the invariant the oracle hash relies on."""
    data = [(k, v / 100.0) for k, v in rows]
    shuffled = data[:]
    random.Random(seed).shuffle(shuffled)

    def agg(d, parts):
        df = spark.createDataFrame(d, "k int, v double").repartition(parts)
        return {
            r.k: r.s
            for r in df.groupBy("k").agg(sum_cents(F.col("v"), 100).alias("s")).collect()
        }

    assert agg(data, 2) == agg(shuffled, 7)


@given(
    statuses=st.lists(
        st.sampled_from(["review", "archived", "completed", "queued"]),
        min_size=1,
        max_size=12,
    )
)
@_settings
def test_migration_is_idempotent(spark, statuses):
    """U1: applying the review/archived→completed rewrite twice equals
    applying it once (scripts/migrate-all-projects.sh re-run safety)."""
    rows = [
        (f"plan-{i}", s, f"/comms/plans/p/{s if s != 'queued' else 'queued/background'}/plan-{i}.md")
        for i, s in enumerate(statuses)
    ]
    df = spark.createDataFrame(rows, "id string, status string, path string")

    def migrate(d):
        legacy = d.filter(F.col("status").isin("review", "archived")).select(
            "id",
            F.lit("completed").alias("status"),
            F.regexp_replace("path", "/(review|archived)/", "/completed/").alias("path"),
        )
        rest = d.filter(~F.col("status").isin("review", "archived"))
        return rest.unionByName(legacy)

    once = {tuple(r) for r in migrate(df).collect()}
    twice = {tuple(r) for r in migrate(migrate(df)).collect()}
    assert once == twice


@given(
    n_threads=st.integers(min_value=2, max_value=5),
    seed=st.integers(min_value=0, max_value=2**16),
)
@_settings
def test_claim_uniqueness_under_races(spark, n_threads, seed):
    """Q6: however many threads race on one phase, exactly one owns it;
    every other thread's events are rejected."""
    from datetime import datetime, timedelta

    rng = random.Random(seed)
    base = datetime(2026, 3, 1, 9, 0, 0)
    rows = []
    order = [f"th-{i}" for i in range(n_threads)]
    rng.shuffle(order)
    for j, th in enumerate(order):
        rows.append(
            (
                "phase-1-p1", "alpha", "p1", 1, th, "running", j + 1,
                "Edit", "x.py", base + timedelta(seconds=j), base, None,
            )
        )
    from nova_pulsar_spark.plans.fixtures import STATUS_EVENTS

    df = spark.createDataFrame(rows, STATUS_EVENTS.spark_schema())
    out = lifecycle_batch(df).collect()
    rejected = [r for r in out if r.kind == "claim_rejected"]
    accepted_threads = n_threads - len(rejected)
    assert accepted_threads == 1  # single writer per key


_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]


@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=3, max_size=10),
        min_size=2,
        max_size=8,
    ),
)
@_settings
def test_setsim_prefix_is_lossless_at_threshold(spark, docs):
    """Prefix filtering must find EXACTLY the brute-force Jaccard>=t
    pairs on arbitrary corpora — the lossless-recall property that
    distinguishes it from LSH."""
    from nova_pulsar_spark.operators.dedup import SETSIM_DEN, SETSIM_NUM, setsim_prefix_pairs

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.a_id, r.b_id): (r.n_inter, r.n_union) for r in setsim_prefix_pairs(df).collect()}

    def shingles(ws):
        if len(ws) < 3:
            return {" ".join(ws[i : i + 3]) for i in range(max(len(ws) - 1, 1))}
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    sh = {i: shingles(ws) for i, ws in enumerate(docs)}
    brute = {}
    for a in sh:
        for b in sh:
            if a < b:
                inter = len(sh[a] & sh[b])
                union = len(sh[a] | sh[b])
                if inter * SETSIM_DEN >= union * SETSIM_NUM:
                    brute[(a, b)] = (inter, union)
    assert got == brute


@given(weights=st.lists(st.integers(min_value=1, max_value=1000), min_size=5, max_size=40))
@_settings
def test_weighted_sample_monotone_in_weight(spark, weights):
    """The inclusion rule u*Σw < 2^16*K*w is monotone in w: raising a
    doc's weight (all else fixed) can only keep or add it, never drop
    it — the property that makes the sample weight-proportional."""
    from nova_pulsar_spark.operators.pipeline import SAMPLE_K, _hash16_spark

    rows = [(i, w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    tot = sum(weights)
    u = _hash16_spark(F.col("doc_id").cast("string")).cast("bigint")
    included = {
        r.doc_id
        for r in df.filter(u * F.lit(tot) < F.lit(65536 * SAMPLE_K) * F.col("n_chars")).collect()
    }
    # recompute in python with doubled weight for one doc: supersets only
    import hashlib

    def h16(x):
        return int(hashlib.md5(str(x).encode()).hexdigest()[:4], 16)

    py_included = {i for i, w in rows if h16(i) * tot < 65536 * SAMPLE_K * w}
    assert included == py_included  # engine matches the reference impl
    boosted = {i for i, w in rows if h16(i) * tot < 65536 * SAMPLE_K * (2 * w)}
    assert included <= boosted


_WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta", "iota", "kappa"]


@given(
    pre=st.lists(st.sampled_from(_WORDS), min_size=0, max_size=6),
    run=st.lists(st.sampled_from(_WORDS), min_size=8, max_size=12),
    post=st.lists(st.sampled_from(_WORDS), min_size=0, max_size=6),
    other_pre=st.lists(st.sampled_from(_WORDS), min_size=0, max_size=6),
)
@_settings
def test_winnowing_guarantee_holds_for_random_shared_runs(spark, pre, run, post, other_pre):
    """Property form of the winnowing guarantee: ANY shared run of
    >= W+K-1 (=8) tokens produces at least one shared fingerprint,
    regardless of surrounding context."""
    from nova_pulsar_spark.operators.textstats import winnowing_fingerprints

    doc1 = " ".join(pre + run + post)
    doc2 = " ".join(other_pre + run)
    docs = spark.createDataFrame([(1, doc1), (2, doc2)], "doc_id long, text string")
    fps = {r.doc_id: set(r.fps) for r in winnowing_fingerprints(docs).collect()}
    assert fps[1] & fps[2], (doc1, doc2)


@given(
    a_extra=st.lists(st.sampled_from(_WORDS), min_size=0, max_size=4),
    span_seed=st.integers(min_value=0, max_value=2**16),
    b_extra=st.lists(st.sampled_from(_WORDS), min_size=0, max_size=4),
)
@_settings
def test_substring_scrub_always_removes_planted_cross_doc_span(spark, a_extra, span_seed, b_extra):
    """Property: a 8-token span planted in two docs never survives the
    scrub in either doc; docs keep their non-span tokens in order."""
    from nova_pulsar_spark.operators.dedup import substring_scrub

    rnd = random.Random(span_seed)
    span = [f"s{rnd.randrange(1000)}_{i}" for i in range(8)]  # unique span tokens
    doc_a = " ".join(a_extra + span)
    doc_b = " ".join(span + b_extra)
    docs = spark.createDataFrame([(1, doc_a), (2, doc_b)], "doc_id long, text string")
    out = {r.doc_id: r for r in substring_scrub(docs).collect()}
    for sid in span:
        assert sid not in out[1].clean_text.split(" ")
        assert sid not in out[2].clean_text.split(" ")
    # non-span tokens survive in order (span tokens are unique, extras may repeat)
    assert [t for t in out[1].clean_text.split(" ") if t] == a_extra
    assert [t for t in out[2].clean_text.split(" ") if t] == b_extra


@settings(max_examples=30, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=10),
    ctype=st.sampled_from([0, 2]),
    data=st.data(),
)
def test_stdlib_png_decoder_roundtrips_any_filter_mix(w, h, ctype, data):
    """decode(encode(pixels)) recovers exact dimensions and mean for
    arbitrary 8-bit gray/RGB images under any per-row mix of the
    None/Sub/Up filters the writer supports."""
    from nova_pulsar_spark.operators.multimodal import _decode_png_stdlib
    from tests.test_llm_ops import _make_png

    ch = 1 if ctype == 0 else 3
    px = data.draw(
        st.lists(st.integers(0, 255), min_size=w * h * ch, max_size=w * h * ch)
    )
    filters = data.draw(st.lists(st.sampled_from([0, 1, 2]), min_size=h, max_size=h))
    got_w, got_h, got_mean = _decode_png_stdlib(_make_png(w, h, px, ctype, filters))
    assert (got_w, got_h) == (w, h)
    if ch == 1:
        want = sum(px) / (w * h)
    else:
        want = sum(
            (px[i] * 19595 + px[i + 1] * 38470 + px[i + 2] * 7471) >> 16
            for i in range(0, len(px), 3)
        ) / (w * h)
    assert got_mean == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),  # price (coarse -> many ties)
            st.integers(min_value=0, max_value=8),  # size
        ),
        min_size=1,
        max_size=40,
    )
)
@_settings
def test_skyline_matches_dominance_bruteforce(spark, rows, tmp_path_factory):
    """topk_skyline's sort-based plan must equal the quadratic
    dominance definition on arbitrary (price, size) sets, including
    exact duplicates (ties survive) and heavy price-group collisions."""
    from nova_pulsar_spark.operators.topk import topk_skyline

    d = str(tmp_path_factory.mktemp("sky"))
    data = [(i, float(p), s) for i, (p, s) in enumerate(rows)]
    spark.createDataFrame(
        data, "p_partkey bigint, p_retailprice double, p_size int"
    ).write.mode("overwrite").parquet(f"{d}/part.parquet")
    got = {r["p_partkey"] for r in topk_skyline(spark, d).collect()}
    want = {
        i
        for i, (p, s) in enumerate(rows)
        if not any(
            (p2 <= p and s2 >= s and (p2 < p or s2 > s)) for (p2, s2) in rows
        )
    }
    assert got == want, (got, want, rows)


_QUEUE_FILES = ["src/auth/session.py", "src/pay/charge.py", "src/core/models.py", "lib/util.py", "docs/guide.md"]
_QUEUE_TYPES = ["security", "bug", "feature", "refactor", "chore", "docs", "spike"]
_queue_plan = st.tuples(
    st.sampled_from(["queued", "active", "completed", "failed"]),
    st.integers(min_value=0, max_value=3),  # created_at slot (ties)
    st.sampled_from(_QUEUE_TYPES),
    st.lists(  # phases, each a file list over a small shared pool
        st.lists(st.sampled_from(_QUEUE_FILES), min_size=1, max_size=3), min_size=0, max_size=5
    ),
)


@given(plans=st.lists(_queue_plan, min_size=1, max_size=8))
@example(
    plans=[
        ("completed", 0, "feature", [["src/auth/session.py"], ["lib/util.py"]]),
        ("active", 1, "bug", [["lib/util.py", "docs/guide.md"]]),
        ("failed", 1, "refactor", [["src/core/models.py"]]),
        ("queued", 1, "security", [["src/pay/charge.py"]]),
        ("queued", 2, "chore", [["docs/guide.md"], ["lib/util.py"], ["docs/guide.md"], ["src/core/models.py"]]),
        ("queued", 2, "docs", [["src/pay/charge.py"], ["lib/util.py"]]),
        ("queued", 3, "spike", []),
    ]
)
@_settings
def test_orbiter_selection_matches_registered_oracles(spark, plans):
    """best_plan, dep_satisfied and priority_scores equal the DuckDB SQL
    registered for topk_best_plan, filter_dep_satisfied and
    project_priority — same body, same plan_files/edges CTEs — run over
    random queues: every status, created_at ties, shared and critical
    files, plans with no phase or with 4 or more."""
    import dataclasses
    from datetime import datetime

    import duckdb
    from hypothesis import assume

    from nova_pulsar_spark.plans import scheduler as S
    from nova_pulsar_spark.plans.fixtures import PHASES, PLANS
    from nova_pulsar_spark.registry import all_queries
    from tools.check_oracle import compare

    plan_rows, phase_rows = [], []
    for i, (status, slot, ptype, phases) in enumerate(plans):
        pid, project = f"plan-{i:02d}", f"proj{i % 2}"
        created = datetime(2026, 2, 20 + slot, 9, 0)
        plan_rows.append(
            (pid, pid, project, f"/w/{project}", None, ptype, status, "background", created, len(phases), 1)
        )
        phase_rows += [(pid, k + 1, f"ph{k + 1}", files, "Low", "sonnet") for k, files in enumerate(phases)]
    assume(phase_rows)  # a VALUES CTE needs a row
    gen_plans = dataclasses.replace(PLANS, rows=tuple(plan_rows))
    gen_phases = dataclasses.replace(PHASES, rows=tuple(phase_rows))
    plans_df, phases_df = gen_plans.spark_df(spark), gen_phases.spark_df(spark)
    spark_side = {
        "topk_best_plan": S.best_plan(plans_df, phases_df),
        "filter_dep_satisfied": S.dep_satisfied(plans_df, phases_df).select(
            F.col("id").alias("plan_id"), "project", "type", "created_at"
        ),
        "project_priority": S.priority_scores(plans_df, phases_df),
    }
    regs = all_queries()
    con = duckdb.connect()
    for name, df in spark_side.items():
        sql = regs[name].sql
        assert PLANS.values_cte() in sql and PHASES.values_cte() in sql
        sql = sql.replace(PLANS.values_cte(), gen_plans.values_cte())
        sql = sql.replace(PHASES.values_cte(), gen_phases.values_cte())
        problems = compare(df.toPandas(), con.execute(sql).df())
        assert not problems, (name, problems, plans)
