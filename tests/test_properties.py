"""Property-style invariants (SURVEY §5.3): dedup idempotence, LSH
recall against the exact scan, salted-aggregation equivalence,
hash-family determinism (hypothesis for the pure-python pieces)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_dedup_exact_idempotent(spark):
    """Running exact dedup on its own keepers changes nothing."""
    from email_etl_spark.functions.text import fingerprint
    from email_etl_spark.io import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    keep_ids = (
        docs.groupBy(fingerprint(F.col("text")).alias("fp"))
        .agg(F.min("doc_id").alias("keep_id"))
        .select("keep_id")
    )
    kept = docs.join(keep_ids, docs.doc_id == keep_ids.keep_id).drop("keep_id")
    again = (
        kept.groupBy(fingerprint(F.col("text")).alias("fp"))
        .agg(F.count("*").alias("n"))
    )
    assert again.where(F.col("n") > 1).count() == 0


def test_minhash_lsh_full_recall_on_corpus(spark):
    """Every exact-Jaccard pair above threshold is found by the LSH
    path (recall == 1 on this corpus, per the band math)."""
    from email_etl_spark.plans.registry import REGISTRY

    lsh_pairs = {
        (r.doc_a, r.doc_b)
        for r in REGISTRY["dedup_minhash"].builder(spark, SF_SMOKE).collect()
    }
    # exact scan via the oracle
    from tests.oracle import run_oracle

    _, exact_rows = run_oracle(REGISTRY["dedup_minhash"].oracle, SF_SMOKE)
    exact_pairs = {(r[0], r[1]) for r in exact_rows}
    assert lsh_pairs == exact_pairs


def test_salted_agg_equals_direct(spark):
    from email_etl_spark.io import load_table
    from email_etl_spark.operators.skew import salted_agg

    ev = load_table(spark, SF_SMOKE, "events")
    direct = {
        r.user_id: (r.n_events, float(r.total), r.first_ts)
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("total"),
            F.min("ts").alias("first_ts"),
        )
        .collect()
    }
    salted = {
        r.user_id: (r.n_events, float(r.total), r.first_ts)
        for r in salted_agg(
            ev,
            "user_id",
            {
                "n_events": ("sum", F.count("*")),
                "total": ("sum", F.sum(F.col("value").cast("decimal(18,4)"))),
                "first_ts": ("min", F.min("ts")),
            },
            salt_buckets=8,
        ).collect()
    }
    assert direct == salted


@settings(max_examples=50, deadline=None)
@given(st.text(min_size=0, max_size=200))
def test_stub_embedding_unit_norm(text):
    from email_etl_spark.llm.stub import _embed_one

    v = _embed_one(text)
    assert len(v) == 64
    n = sum(x * x for x in v)
    if text.strip():
        assert abs(n - 1.0) < 1e-6
        assert v == _embed_one(text)  # deterministic
    else:
        assert n == 0.0


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=3), st.integers(min_value=0, max_value=7))
def test_hyperplanes_deterministic(t, j):
    from email_etl_spark.functions.hashing import hyperplanes

    a = hyperplanes(4, 8, 16)
    b = hyperplanes(4, 8, 16)
    assert a[t][j] == b[t][j]
    assert set(a[t][j]) <= {1.0, -1.0}


def test_connected_components_transitivity(spark):
    """A-B, B-C, D-E → {A,B,C} and {D,E} with min-id labels."""
    from email_etl_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (5, 5)], ["src", "dst"]
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 5: 5}


def test_connected_components_chain(spark):
    """A long chain converges (diameter > 1 iteration's reach)."""
    from email_etl_spark.operators.graph import connected_components

    n = 12
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], ["src", "dst"])
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert set(comp.values()) == {0}
    assert len(comp) == n + 1


def test_pii_scrub_idempotent(spark):
    """Scrubbing already-scrubbed text is a no-op: placeholders never
    re-match any PII pattern, and counts on the scrubbed text are 0."""
    from email_etl_spark.plans.registry import REGISTRY
    from email_etl_spark.plans.text import _PII_EMAIL, _PII_IP, _PII_PHONE

    out = REGISTRY["pii_scrub"].builder(spark, SF_SMOKE)
    seeded = out.where((F.col("n_emails") > 0) | (F.col("n_phones") > 0) | (F.col("n_ips") > 0))
    assert seeded.count() > 0  # the seeding actually fired

    # rebuild the scrubbed text and re-count: must be all zeros
    docs_scrubbed = spark.createDataFrame(
        [("x contact [EMAIL] or call [PHONE] from [IP] done",)], ["body"]
    )
    recount = docs_scrubbed.select(
        F.regexp_count(F.col("body"), F.lit(_PII_EMAIL)).alias("e"),
        F.regexp_count(F.col("body"), F.lit(_PII_PHONE)).alias("p"),
        F.regexp_count(F.col("body"), F.lit(_PII_IP)).alias("i"),
    ).collect()[0]
    assert (recount.e, recount.p, recount.i) == (0, 0, 0)


def test_repetition_ratio_bounds(spark):
    """rep_bps stays within [0, 10000] and uniq <= total everywhere."""
    from email_etl_spark.plans.registry import REGISTRY

    out = REGISTRY["repetition_ratio"].builder(spark, SF_SMOKE)
    bad = out.where(
        (F.col("rep_bps") < 0)
        | (F.col("rep_bps") > 10000)
        | (F.col("n_uniq_bigrams") > F.col("n_bigrams"))
    )
    assert bad.count() == 0


def test_knn_join_ranks_monotone(spark):
    """Per query: exactly k neighbors, ranks 1..k, cosine non-increasing
    with rank, and no self-neighbors."""
    from email_etl_spark.plans.registry import REGISTRY
    from email_etl_spark.plans.search import _KNN_K

    rows = REGISTRY["knn_join"].builder(spark, SF_SMOKE).collect()
    by_q = {}
    for r in rows:
        assert r.vec_id != r.neighbor_id
        by_q.setdefault(r.vec_id, []).append((r.rank, r.cos_sim))
    for q, rs in by_q.items():
        rs.sort()
        assert [rk for rk, _ in rs] == list(range(1, _KNN_K + 1))
        sims = [c for _, c in rs]
        assert all(a >= b for a, b in zip(sims, sims[1:]))


def test_fuzzy_decontaminate_subset_of_exact_pairs(spark):
    """Every fuzzy-decontamination hit is a genuine cross-set near-dup:
    re-checking each flagged pair's exact Jaccard clears the threshold."""
    from email_etl_spark.functions import hashing as H
    from email_etl_spark.functions import text as T
    from email_etl_spark.io import load_table
    from email_etl_spark.plans.curation import _FUZZY_DECON_THRESHOLD
    from email_etl_spark.plans.registry import REGISTRY

    hits = REGISTRY["fuzzy_decontaminate"].builder(spark, SF_SMOKE).collect()
    assert len(hits) > 0
    docs = load_table(spark, SF_SMOKE, "documents")
    sh = {
        r.doc_id: set(r.sh)
        for r in docs.select(
            "doc_id", H.shingles(T.tokens(F.col("text")), k=3).alias("sh")
        ).collect()
        if r.doc_id in {h.train_id for h in hits} | {h.bench_id for h in hits}
    }
    for h in hits:
        a, b = sh[h.train_id], sh[h.bench_id]
        i, u = len(a & b), len(a | b)
        j_bps = (20000 * i + u) // (2 * u)
        assert j_bps >= 6000
        assert j_bps == h.j_bps


def test_approx_user_counts_error_bounded(spark):
    """approx_count_distinct(rsd=0.02) must land near the exact
    distinct count — an HLL returning schema-valid garbage would
    otherwise pass the rows-only driver check unnoticed. HLL++ at
    rsd=0.02 is well inside 5x rsd for these cardinalities (~2k/type);
    the bound is deliberately loose so the test pins CORRECTNESS of
    the sketch wiring, not the sketch's luck."""
    from email_etl_spark.io import load_table
    from email_etl_spark.plans.registry import REGISTRY

    approx = {
        r.event_type: (r.approx_users, r.n_events)
        for r in REGISTRY["approx_user_counts"].builder(spark, SF_SMOKE).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events")
    exact = {
        r.event_type: (r.exact_users, r.n_events)
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.count("*").alias("n_events"),
        )
        .collect()
    }
    assert set(approx) == set(exact) and len(exact) > 0
    for et, (est, n_events) in approx.items():
        true, n_exact_events = exact[et]
        assert n_events == n_exact_events  # the exact column IS exact
        assert abs(est - true) <= max(0.10 * true, 5), (et, est, true)


def test_approx_value_quantiles_rank_bounded(spark):
    """The query now audits the sketch itself (rank-band booleans, so
    the oracle gate can check the contract): assert every band check
    passes and the exact counts match, then INDEPENDENTLY re-derive
    the sketch estimates and verify their true rank is within 1% of
    target (10x the documented n/1000 bound) — so a bug that widens
    the query's band to the whole range cannot silently pass."""
    from email_etl_spark.io import load_table
    from email_etl_spark.plans.registry import REGISTRY

    audited = REGISTRY["approx_value_quantiles"].builder(spark, SF_SMOKE).collect()
    assert len(audited) > 0
    assert all(r.p50_in_band and r.p95_in_band for r in audited)

    ev = load_table(spark, SF_SMOKE, "events")
    n_by = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert {r.event_type: r.n_events for r in audited} == n_by

    est = {
        r.event_type: (r.p50, r.p95)
        for r in ev.groupBy("event_type")
        .agg(
            F.approx_percentile("value", F.lit(0.5), F.lit(1000)).alias("p50"),
            F.approx_percentile("value", F.lit(0.95), F.lit(1000)).alias("p95"),
        )
        .collect()
    }
    vals = {
        et: sorted(v for (v,) in rows)
        for et, rows in (
            (r.event_type, [(x.value,) for x in ev.where(F.col("event_type") == r.event_type).select("value").collect()])
            for r in ev.select("event_type").distinct().collect()
        )
    }
    assert set(est) == set(vals) and len(vals) > 0
    for et, (p50, p95) in est.items():
        xs = vals[et]
        n = len(xs)
        for target, v in ((0.5, p50), (0.95, p95)):
            # true rank of the returned value
            import bisect

            lo = bisect.bisect_left(xs, v)
            hi = bisect.bisect_right(xs, v)
            target_rank = target * (n - 1)
            assert lo - 0.01 * n <= target_rank <= hi + 0.01 * n, (
                et, target, v, lo, hi, n,
            )
        assert p50 <= p95


def test_dsir_weights_separate_target_from_rest(spark):
    """DSIR sanity: by construction the hashed-ngram importance model
    must score the TARGET slice (en/src0+src1) above the rest on
    average — positive mean log-ratio on target, negative off it. A
    weights table failing this is feature hashing gone wrong, even if
    the oracle hash still matches."""
    from pyspark.sql import functions as F

    from email_etl_spark.io import load_table
    from email_etl_spark.plans.registry import REGISTRY

    w = REGISTRY["dsir_weights"].builder(spark, SF_SMOKE)
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id",
        ((F.col("lang") == "en") & F.col("source").isin("src0", "src1")).alias("tgt"),
    )
    m = {
        r["tgt"]: r["m"]
        for r in w.join(docs, "doc_id")
        .groupBy("tgt")
        .agg(F.avg("avg_log_ratio").alias("m"))
        .collect()
    }
    assert m[True] > 0 > m[False], m


def test_two_pass_skyline_equals_bruteforce(spark):
    """The bucket-local pre-prune must never change the skyline:
    crafted data with x ties, y ties, full duplicates, dominated
    chains and cross-bucket dominators, checked against brute-force
    dominance."""
    import itertools

    from email_etl_spark.plans.relational_ext import two_pass_skyline

    rows = [
        # (id, x, y): duplicates of a frontier point, ties both axes,
        # a dominated diagonal chain, and isolated extremes
        (1, 100, 1), (2, 100, 5), (3, 100, 5), (4, 90, 5), (5, 90, 7),
        (6, 80, 7), (7, 80, 6), (8, 70, 9), (9, 60, 9), (10, 50, 20),
        (11, 40, 19), (12, 30, 21), (13, 100, 4), (14, 1, 100),
        (15, 1, 100), (16, 2, 99), (17, 0, 0),
    ] + [(100 + i, i, i) for i in range(30)]  # diagonal: only max survives vs (30,30)?
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = {
        (r.id, r.x, r.y) for r in two_pass_skyline(df, "id", "x", "y").collect()
    }

    def dominated(a, b):  # b dominates a
        return b[1] >= a[1] and b[2] >= a[2] and (b[1] > a[1] or b[2] > a[2])

    expect = {
        a for a in rows if not any(dominated(a, b) for b in rows if b[0] != a[0])
    }
    # identical-coordinate duplicates: neither dominates the other, both stay
    assert got == expect


def test_weighted_sample_matches_independent_python(spark):
    """The E-S selection must equal an independent hashlib/math
    reimplementation: same md5 lanes, same keys, same top-50."""
    import hashlib
    import math

    import duckdb

    from email_etl_spark.plans.curation import WS_TOP, weighted_sample
    from tests.conftest import SF_SMOKE

    rows = duckdb.sql(
        f"SELECT doc_id, n_chars FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall()
    keyed = []
    for doc_id, n_chars in rows:
        lane = int(hashlib.md5(f"ws:{doc_id}".encode()).hexdigest()[:8], 16)
        u = (lane + 1) / 4294967296.0
        keyed.append((math.log(u) / n_chars, doc_id, n_chars))
    keyed.sort(key=lambda t: (-t[0], t[1]))
    expect = [(doc_id, n_chars) for _, doc_id, n_chars in keyed[:WS_TOP]]

    got = [(r.doc_id, r.n_chars) for r in weighted_sample(spark, SF_SMOKE).collect()]
    assert got == expect


def test_poisson_bootstrap_thresholds_are_cdf():
    """The integer thresholds must be floor(CDF_k * 2^32) of a true
    Poisson(1), monotone, and cover ~all mass by k=7."""
    import math

    from email_etl_spark.plans.sessions import _BOOT_MAX_W, _BOOT_TS

    cdf, p = 0.0, math.exp(-1.0)
    for k in range(_BOOT_MAX_W):
        cdf += p
        assert _BOOT_TS[k] == int(cdf * 4294967296.0)
        p /= k + 1
    assert all(a < b for a, b in zip(_BOOT_TS, _BOOT_TS[1:]))
    # by k=7 the CDF leaves ~1e-5 of mass uncovered (P(X>7) = 1.02e-5)
    assert _BOOT_TS[-1] > int((1 - 1e-4) * 4294967296.0)


def test_engagement_decay_table_is_exact_powers():
    from email_etl_spark.plans.sessions import _DECAY_HORIZON, _DECAY_MICRO

    w = 1.0
    for d in range(_DECAY_HORIZON + 1):
        assert _DECAY_MICRO[d] == int(round(w * 1_000_000))
        w *= 0.9
    assert _DECAY_MICRO[0] == 1_000_000
    assert _DECAY_MICRO[_DECAY_HORIZON] >= 0


# --- WARC framing round-trip ------------------------------------------------

_warc_payload = st.binary(min_size=0, max_size=200)
_warc_uri = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126, exclude_characters=":"),
    min_size=1,
    max_size=20,
)


@settings(max_examples=50, deadline=None)
@given(st.lists(st.tuples(_warc_uri, _warc_payload), min_size=1, max_size=8))
def test_warc_roundtrip_survives_delimiters_in_payload(records):
    """Content-Length framing must recover every record even when the
    payload itself contains the \\r\\n\\r\\n record delimiter or fake
    WARC/1.0 header lines — the property a split-on-delimiter reader
    would fail."""
    from email_etl_spark.sources.warc_source import parse_warc_bytes

    blob = b""
    for i, (uri, payload) in enumerate(records):
        hdr = (
            b"WARC/1.0\r\n"
            b"WARC-Type: resource\r\n"
            b"WARC-Record-ID: <urn:uuid:r" + str(i).encode() + b">\r\n"
            b"WARC-Target-URI: http://x/" + uri.encode() + b"\r\n"
            b"Content-Type: application/octet-stream\r\n"
            b"Content-Length: " + str(len(payload)).encode() + b"\r\n\r\n"
        )
        blob += hdr + payload + b"\r\n\r\n"

    rows = parse_warc_bytes(blob, "prop.warc")
    assert len(rows) == len(records)
    for i, (uri, payload) in enumerate(records):
        assert rows[i]["record_id"] == f"<urn:uuid:r{i}>"
        assert rows[i]["target_uri"] == f"http://x/{uri}"
        assert rows[i]["content_length"] == len(payload)
        assert rows[i]["body"] == payload.decode("utf-8", errors="replace")


# --- int8 quantizer error bound --------------------------------------------


@settings(max_examples=300, deadline=None)
@given(
    st.integers(min_value=0, max_value=10**6),  # |value| micro-units
    st.integers(min_value=1, max_value=10**6),  # dim absmax micro-units
)
def test_int8_quantizer_error_bound(am, mx):
    """The truncating 127-level quantizer (plans/search.py::
    int8_quant_report / ann_int8) loses at most one quantization step
    plus one truncation unit: err <= absmax div 127 + 1. An HLL-style
    'runs but garbage' regression in the integer arithmetic would
    blow this bound immediately."""
    if am > mx:
        am = am % (mx + 1)  # |value| never exceeds the dim absmax
    code = am * 127 // mx
    recon = code * mx // 127
    err = am - recon
    assert 0 <= err <= mx // 127 + 1


def test_bloom_prefilter_superset_and_selective(spark):
    """The bloom pre-filter admits every true semi-join match (no
    false negatives, the bloom invariant) while rejecting most
    non-matching probe rows — the property that makes shipping a
    constant 32 KB filter worth it at 100 TB."""
    from email_etl_spark.io import load_table
    from email_etl_spark.plans.relational_ext import _bloom_build, _bloom_hit

    orders = load_table(spark, SF_SMOKE, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey")

    pre = (
        li.withColumn("_bf", _bloom_build(urgent, "o_orderkey"))
        .where(_bloom_hit("l_orderkey", "_bf"))
        .drop("_bf")
    )

    n_total = li.count()
    n_pre = pre.count()
    n_true = li.join(urgent, li.l_orderkey == urgent.o_orderkey, "left_semi").count()
    n_pre_true = (
        pre.join(urgent, pre.l_orderkey == urgent.o_orderkey, "left_semi").count()
    )
    assert n_pre_true == n_true  # no false negatives
    # urgent is ~20% of orders; a sized bloom keeps FPs rare, so the
    # pre-filter must reject the clear majority of the other ~80%
    assert n_pre < n_total * 0.35


def test_bloom_filter_stays_below_semi_join(spark):
    """The bloom test must be a scan-side predicate UNDER the exact
    semi join — Catalyst join reordering hoisted an earlier
    broadcast-row formulation above it, running the expensive join
    first. Literal plan constants pin the order; this keeps it pinned."""
    from email_etl_spark.plans.registry import REGISTRY

    df = REGISTRY["bloom_semi_join"].builder(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    lines = plan.splitlines()
    ji = next(i for i, ln in enumerate(lines) if "LeftSemi" in ln)
    fi = next(i for i, ln in enumerate(lines) if "Filter" in ln and "xxhash64" in ln)
    assert fi > ji, plan


def test_zorder_files_are_tight_rectangles(spark):
    """Every z-order file covers a rectangle spanning at most half of
    each dimension's bucket range — the locality property that lets
    min/max file stats prune on either predicate (a 1-D range sort
    leaves the second dimension's span at 100%)."""
    from email_etl_spark.plans.registry import REGISTRY

    rows = REGISTRY["zorder_layout"].builder(spark, SF_SMOKE).collect()
    assert rows, "no files planned"
    from email_etl_spark.io import load_table

    n_orders = load_table(spark, SF_SMOKE, "orders").count()
    assert sum(r["n_rows"] for r in rows) == n_orders
    for r in rows:
        assert r["cust_hi"] - r["cust_lo"] <= 32  # <= half of 64 buckets
        assert r["date_hi"] - r["date_lo"] <= 32


def test_linear_probe_deterministic_and_shaped(spark):
    """The probe returns bias + one weight per dimension and is
    bit-stable across runs (exact-decimal gradients make the result
    independent of partitioning/accumulation order)."""
    from email_etl_spark.plans.registry import REGISTRY

    a = REGISTRY["linear_probe"].builder(spark, SF_SMOKE).collect()
    b = (
        REGISTRY["linear_probe"]
        .builder(spark, SF_SMOKE)
        .repartition(7)
        .orderBy("dim")
        .collect()
    )
    assert len(a) == 65
    assert [r["dim"] for r in a] == list(range(65))
    assert [(r["dim"], r["weight_e9"]) for r in a] == [
        (r["dim"], r["weight_e9"]) for r in b
    ]
    # weight_e9 is the exact integer 10^9 * weight
    assert all(abs(r["weight_e9"]) < 10 * 10**9 for r in a)


def test_snapshot_diff_classes_partition_the_union(spark):
    """The four diff classes partition old ∪ new exactly, and the
    intersection splits into changed + unchanged — recomputed here
    from the membership lanes directly, independent of the join."""
    from email_etl_spark.io import load_table
    from email_etl_spark.plans.governance import _EDIT_IN, _NEW_NOT, _OLD_NOT
    from email_etl_spark.plans.registry import REGISTRY

    docs = load_table(spark, SF_SMOKE, "documents")
    key = F.col("doc_id").cast("string")
    in_old = F.substring(F.md5(F.concat(F.lit("old:"), key)), 1, 1) != _OLD_NOT
    in_new = F.substring(F.md5(F.concat(F.lit("new:"), key)), 1, 1) != _NEW_NOT
    edited = F.substring(F.md5(F.concat(F.lit("edit:"), key)), 1, 1).isin(*_EDIT_IN)

    n_union = docs.where(in_old | in_new).count()
    n_both = docs.where(in_old & in_new).count()
    n_added = docs.where(in_new & ~in_old).count()
    n_removed = docs.where(in_old & ~in_new).count()
    # edits only count as changed when truncation actually shortens
    n_changed = docs.where(
        in_old & in_new & edited & (F.expr("n_chars div 2 + 1") < F.col("n_chars"))
    ).count()

    rows = REGISTRY["snapshot_diff"].builder(spark, SF_SMOKE).collect()
    tot = {c: sum(r[c] for r in rows) for c in ("n_added", "n_removed", "n_changed", "n_unchanged")}
    assert sum(tot.values()) == n_union
    assert tot["n_added"] == n_added
    assert tot["n_removed"] == n_removed
    assert tot["n_changed"] == n_changed
    assert tot["n_changed"] + tot["n_unchanged"] == n_both
    # every class is populated at this corpus size — the demo is live
    assert min(tot.values()) > 0


def test_cdc_apply_tombstone_semantics(spark):
    """A key survives iff its LAST change-log op is an upsert —
    checked against an independent max_by computation — and the
    per-key op counters account for every log row of survivors."""
    from email_etl_spark.io import load_table
    from email_etl_spark.plans.registry import REGISTRY

    ev = load_table(spark, SF_SMOKE, "events")
    last_op = ev.groupBy("user_id").agg(
        F.max_by(
            F.when(F.col("event_type") == "error", "D").otherwise("U"),
            F.struct("ts", "event_id"),
        ).alias("op"),
        F.count("*").cast("bigint").alias("n"),
    )
    expected_alive = {r["user_id"] for r in last_op.where(F.col("op") == "U").collect()}
    n_by_user = {r["user_id"]: r["n"] for r in last_op.collect()}

    rows = REGISTRY["cdc_apply"].builder(spark, SF_SMOKE).collect()
    assert {r["user_id"] for r in rows} == expected_alive
    assert all(r["n_ops"] == n_by_user[r["user_id"]] for r in rows)
    assert all(0 <= r["n_deletes"] < r["n_ops"] for r in rows)
    # deletes genuinely remove keys on this corpus
    assert len(rows) < len(n_by_user)


def test_expectations_report_matches_direct_aggregates(spark):
    """Each rule's violation count equals the independently computed
    aggregate, and n_checked is the full fact count for every rule."""
    from email_etl_spark.io import load_table
    from email_etl_spark.plans.registry import REGISTRY

    orders = load_table(spark, SF_SMOKE, "orders")
    cust = load_table(spark, SF_SMOKE, "customer").select("c_custkey")
    n = orders.count()
    direct = {
        "o_custkey_not_null": orders.where(F.col("o_custkey").isNull()).count(),
        "o_orderstatus_in_set": orders.where(
            ~F.col("o_orderstatus").isin("O", "F", "P")
        ).count(),
        "o_totalprice_positive": orders.where(~(F.col("o_totalprice") > 0)).count(),
        "o_orderkey_unique": n - orders.select("o_orderkey").distinct().count(),
        "o_custkey_referential": orders.join(
            cust, orders.o_custkey == cust.c_custkey, "left_anti"
        ).count(),
    }
    rows = {r["rule"]: r for r in REGISTRY["expectations_report"].builder(spark, SF_SMOKE).collect()}
    assert len(rows) == 6
    assert all(r["n_checked"] == n for r in rows.values())
    for rule, viol in direct.items():
        assert rows[rule]["n_violations"] == viol, rule
        assert rows[rule]["passed"] == (1 if viol == 0 else 0)


@settings(max_examples=300, deadline=None)
@given(
    st.integers(min_value=1, max_value=5000),   # words
    st.integers(min_value=1, max_value=2000),   # sentence runs
    st.integers(min_value=1, max_value=20000),  # syllables (>= words in real text)
)
def test_readability_easy_band_matches_float_formula(w, s, y):
    """readability_fk's cross-multiplied integer easy-band predicate
    (39*w*w + 1180*y*s <= 2359*s*w) must agree with the public float
    Flesch-Kincaid grade formula except on exact knife-edge ties,
    where the integer form is the defined behavior."""
    integer_easy = 39 * w * w + 1180 * y * s <= 2359 * s * w
    grade = 0.39 * (w / s) + 11.8 * (y / w) - 15.59
    # strictly inside the band on either side, the two must agree
    if abs(grade - 8.0) > 1e-9:
        assert integer_easy == (grade <= 8.0)


def test_readability_fk_aggregates_consistent(spark):
    """Per-group grade milli-units must equal recomputation from the
    reported BIGINT sums, and easy_share_bps must be a valid bps."""
    from email_etl_spark.plans.registry import REGISTRY

    rows = REGISTRY["readability_fk"].builder(spark, SF_SMOKE).collect()
    assert rows, "readability_fk returned no groups"
    for r in rows:
        assert r.sum_words > 0 and r.sum_sentences > 0
        assert r.sum_syllables >= r.sum_words  # >= 1 syllable per word
        assert r.words_per_sentence_centi == r.sum_words * 100 // r.sum_sentences
        assert r.syllables_per_word_centi == r.sum_syllables * 100 // r.sum_words
        assert r.fk_grade_milli == (
            390 * r.sum_words // r.sum_sentences
            + 11800 * r.sum_syllables // r.sum_words
            - 15590
        )
        assert 0 <= r.easy_share_bps <= 10000


def test_shot_boundaries_accounting_identities(spark):
    """Video and gap counts must reconcile with the frame stream:
    sum(n_videos) == distinct payloads, sum(total_gaps) == frames -
    videos, and every hamming stat respects the 32-bit signature."""
    from email_etl_spark.io import load_table
    from email_etl_spark.operators.multimodal import video_frame_sample
    from email_etl_spark.plans.registry import REGISTRY

    rows = REGISTRY["shot_boundaries"].builder(spark, SF_SMOKE).collect()
    assert rows, "shot_boundaries returned no groups"

    docs = load_table(spark, SF_SMOKE, "documents")
    uniq = docs.select("text").distinct()
    n_videos = uniq.count()
    frames = video_frame_sample(
        uniq.select(F.encode(F.col("text"), "UTF-8").alias("content"))
    )
    n_frames = frames.count()

    assert sum(r.n_videos for r in rows) == n_videos
    assert sum(r.total_gaps for r in rows) == n_frames - n_videos
    for r in rows:
        assert r.n_boundaries >= 0 and r.n_videos > 0
        assert 0 <= r.max_hamming <= 32
        assert 0 <= r.mean_hamming_centi <= 3200
        # a video with b boundaries has at least b gaps
        assert r.total_gaps >= r.n_boundaries * r.n_videos


def test_shot_boundaries_duplicate_payloads_collapse(spark):
    """Duplicating every document must not change the result — the
    dedupe-before-expansion contract (identical videos are ONE video;
    at scale this is what makes the 16x frame pass affordable)."""
    from email_etl_spark.io import load_table
    from email_etl_spark.plans import multimodal as mm
    from email_etl_spark.plans.registry import REGISTRY

    base = [tuple(r) for r in REGISTRY["shot_boundaries"].builder(spark, SF_SMOKE).collect()]

    docs = load_table(spark, SF_SMOKE, "documents")
    doubled = docs.unionAll(docs)
    # same plan body as the registry query, fed the doubled corpus
    from pyspark.sql import Window

    blobs = doubled.select("text").distinct().select(
        F.encode(F.col("text"), "UTF-8").alias("content")
    )
    from email_etl_spark.operators.multimodal import video_frame_sample

    frames = video_frame_sample(blobs)
    s = frames.select(
        "content_hash",
        "frame_idx",
        F.expr(
            "cast(conv(substr(content_hash, 2 * (frame_idx % 28) + 1, 8), 16, 10) as bigint)"
        ).alias("sig"),
    )
    w = Window.partitionBy("content_hash").orderBy("frame_idx")
    g = s.withColumn("prev", F.lag("sig").over(w))
    ham = F.bit_count(F.expr("sig ^ prev"))
    per_video = g.groupBy("content_hash").agg(
        F.count("prev").cast("bigint").alias("n_gaps"),
        F.coalesce(F.sum(ham), F.lit(0)).cast("bigint").alias("sum_ham"),
        F.sum(F.when(ham >= mm.SHOT_BOUND, 1).otherwise(0)).cast("bigint").alias("n_boundaries"),
        F.max(ham).alias("max_ham"),
    )
    res = (
        per_video.groupBy("n_boundaries")
        .agg(
            F.count("*").cast("bigint").alias("n_videos"),
            F.sum("n_gaps").cast("bigint").alias("total_gaps"),
            F.when(F.sum("n_gaps") > 0, F.expr("sum(sum_ham) * 100 div sum(n_gaps)"))
            .otherwise(0)
            .cast("bigint")
            .alias("mean_hamming_centi"),
            F.coalesce(F.max("max_ham"), F.lit(0)).cast("bigint").alias("max_hamming"),
        )
        .orderBy("n_boundaries")
    )
    assert [tuple(r) for r in res.collect()] == base


def test_dim_ablation_full_width_anchor(spark):
    """The full-width row must equal ground truth by construction
    (recall_bps == 10000), and every row must satisfy the integer
    recall identity against the q*k denominator."""
    from email_etl_spark.plans import search as se
    from email_etl_spark.plans.registry import REGISTRY

    rows = {r.dims: r for r in REGISTRY["dim_ablation_recall"].builder(spark, SF_SMOKE).collect()}
    denom = se.ABLATION_QUERIES * se.ABLATION_K
    full = max(se.ABLATION_DIMS)
    assert rows[full].n_hits == denom and rows[full].recall_bps == 10000
    for r in rows.values():
        assert r.dims in se.ABLATION_DIMS
        assert 0 <= r.n_hits <= denom
        assert r.recall_bps == r.n_hits * 10000 // denom


def test_split_leakage_reconciles_with_split_sizes(spark):
    """Leakage can never exceed the split population, the bps identity
    must hold, and n_docs must equal train_val_split's own counts for
    the same deterministic assignment."""
    from email_etl_spark.plans.registry import REGISTRY

    rows = {r.split: r for r in REGISTRY["split_leakage"].builder(spark, SF_SMOKE).collect()}
    assert set(rows) == {"val", "test"}
    sizes = {
        r.split: r.n_docs for r in REGISTRY["train_val_split"].builder(spark, SF_SMOKE).collect()
    }
    for name, r in rows.items():
        assert r.n_docs == sizes[name]
        assert 0 <= r.n_leaked <= r.n_docs
        assert 0 <= r.n_groups_spanning <= r.n_leaked or r.n_leaked == 0
        assert r.leak_bps == (r.n_leaked * 10000 // r.n_docs if r.n_docs else 0)


def test_query_autocomplete_prefix_and_rank_laws(spark):
    """Every suggestion extends its prefix, ranks are dense from 1
    with frequencies non-increasing within a prefix, and counts agree
    with an independent term count."""
    from email_etl_spark.io import load_table
    from email_etl_spark.functions.text import tokens
    from email_etl_spark.plans.registry import REGISTRY

    rows = REGISTRY["query_autocomplete"].builder(spark, SF_SMOKE).collect()
    assert rows
    docs = load_table(spark, SF_SMOKE, "documents")
    counts = dict(
        docs.select(F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .count()
        .collect()
    )
    by_prefix: dict = {}
    for r in rows:
        assert len(r.prefix) == r.plen
        assert r.term.startswith(r.prefix) and len(r.term) > r.plen
        assert counts[r.term] == r.n
        by_prefix.setdefault((r.plen, r.prefix), []).append(r)
    for grp in by_prefix.values():
        grp.sort(key=lambda r: r.rank)
        assert [g.rank for g in grp] == list(range(1, len(grp) + 1))
        ns = [g.n for g in grp]
        assert ns == sorted(ns, reverse=True)


def test_search_snippets_window_laws(spark):
    """Each snippet must contain at least one query term, window_hits
    can't exceed min(total_hits, window size), ranks are dense, and
    doc ordering is by total hits then doc_id."""
    from email_etl_spark.plans import search as se
    from email_etl_spark.plans.registry import REGISTRY

    rows = REGISTRY["search_snippets"].builder(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= se.SNIPPET_DOCS
    assert [r.drank for r in rows] == list(range(1, len(rows) + 1))
    keys = [(-r.total_hits, r.doc_id) for r in rows]
    assert keys == sorted(keys)
    for r in rows:
        toks = r.snippet.split(" ")
        assert len(toks) <= se.SNIPPET_WIN
        n_hits_in_snippet = sum(1 for t in toks if t in se.QUERY_TERMS)
        assert n_hits_in_snippet == r.window_hits >= 1
        assert r.window_hits <= r.total_hits


def test_retention_purge_audit_reconciles(spark):
    """Totals must equal the raw type counts, expired counts respect
    the horizon recomputed independently, and bps identities hold."""
    import datetime as dt

    from email_etl_spark.io import load_table
    from email_etl_spark.plans import governance as gov
    from email_etl_spark.plans.registry import REGISTRY

    rows = REGISTRY["retention_purge_audit"].builder(spark, SF_SMOKE).collect()
    assert rows
    ev = load_table(spark, SF_SMOKE, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - dt.timedelta(days=gov.RETENTION_DAYS)
    expected = {
        r.event_type: (r.n, r.e)
        for r in ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("ts") < F.lit(horizon), 1).otherwise(0)).alias("e"),
        )
        .collect()
    }
    assert {r.event_type for r in rows} == set(expected)
    for r in rows:
        n, e = expected[r.event_type]
        assert (r.n_total, r.n_expired) == (n, e)
        assert r.expired_bps == r.n_expired * 10000 // r.n_total
        assert (r.purge_chars == 0) == (r.n_expired == 0)


def test_doc_keywords_tfidf_laws(spark):
    """Every doc gets at most 3 dense-ranked keywords whose tf matches
    an independent count and whose scores are non-increasing; a term
    present in every doc (idf 0) can never outrank a positive score."""
    import math
    from collections import Counter

    from email_etl_spark.io import load_table
    from email_etl_spark.plans.registry import REGISTRY

    rows = REGISTRY["doc_keywords"].builder(spark, SF_SMOKE).collect()
    assert rows
    docs = {
        r.doc_id: r.text for r in load_table(spark, SF_SMOKE, "documents").collect()
    }
    import re as _re

    tok = lambda s: [t for t in _re.split(r"[^a-z0-9]+", s.lower()) if t]
    n_docs = len(docs)
    df = Counter()
    for txt in docs.values():
        df.update(set(tok(txt)))
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, grp in by_doc.items():
        grp.sort(key=lambda r: r.rank)
        assert [g.rank for g in grp] == list(range(1, len(grp) + 1))
        counts = Counter(tok(docs[doc_id]))
        scores = []
        for g in grp:
            assert counts[g.term] == g.tf
            expect = round(g.tf * math.log(n_docs / df[g.term]), 4)
            assert abs(expect - g.score) < 1e-9
            scores.append(g.score)
        assert scores == sorted(scores, reverse=True)


def test_fd_profile_key_backed_fds_hold(spark):
    """FDs whose determinant is a table key must hold exactly; every
    row must satisfy the violation-rate identities."""
    from email_etl_spark.plans import governance as gov
    from email_etl_spark.plans.registry import REGISTRY

    rows = {r.fd: r for r in REGISTRY["fd_profile"].builder(spark, SF_SMOKE).collect()}
    assert len(rows) == len(gov.FD_PAIRS)
    for key_fd in ("orders.o_orderkey -> o_orderstatus", "documents.doc_id -> lang"):
        assert rows[key_fd].fd_holds == 1 and rows[key_fd].n_violating == 0
    for r in rows.values():
        assert 0 <= r.n_violating <= r.n_groups
        assert r.violation_bps == r.n_violating * 10000 // r.n_groups
        assert r.fd_holds == (1 if r.n_violating == 0 else 0)


def test_ref_integrity_profile_edges(spark):
    """Key-backed edges must hold; the documents -> embeddings edge
    must reconcile exactly with the missing_embeddings anti-join; and
    bps identities hold on every row."""
    from email_etl_spark.plans.registry import REGISTRY

    rows = {r.ind: r for r in REGISTRY["ref_integrity_profile"].builder(spark, SF_SMOKE).collect()}
    for holds in (
        "lineitem.l_orderkey <= orders.o_orderkey",
        "orders.o_custkey <= customer.c_custkey",
        "customer.c_nationkey <= nation.n_nationkey",
    ):
        assert rows[holds].ind_holds == 1 and rows[holds].n_orphans == 0
    n_missing = REGISTRY["missing_embeddings"].builder(spark, SF_SMOKE).count()
    doc_edge = rows["documents.doc_id <= embeddings.vec_id"]
    assert doc_edge.n_orphans == n_missing
    for r in rows.values():
        assert 0 <= r.n_orphans <= r.n_child_keys
        assert r.orphan_bps == r.n_orphans * 10000 // r.n_child_keys
        assert r.ind_holds == (1 if r.n_orphans == 0 else 0)


def test_hll_rollup_merge_error_bounded(spark):
    """The day-sketch -> week/total UNION path must estimate within
    HLL tolerance of the exact distinct count at every output grain —
    a broken merge (e.g. unioning wrong sketch columns) would return
    schema-valid garbage the rows-only driver check can't see."""
    from email_etl_spark.io import load_table
    from email_etl_spark.plans.registry import REGISTRY

    est = {
        int(r.week): (r.est_users, r.n_events, r.n_days)
        for r in REGISTRY["hll_rollup"].builder(spark, SF_SMOKE).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events")
    weekly = {
        int(r.week): (r.exact, r.n_events, r.n_days)
        for r in ev.groupBy(
            F.weekofyear(F.col("ts").cast("date")).alias("week")
        )
        .agg(
            F.countDistinct("user_id").alias("exact"),
            F.count("*").alias("n_events"),
            F.countDistinct(F.col("ts").cast("date")).alias("n_days"),
        )
        .collect()
    }
    total_exact = ev.select(F.countDistinct("user_id")).first()[0]
    weekly[-1] = (total_exact, sum(v[1] for v in weekly.values()),
                  sum(v[2] for v in weekly.values()))
    assert set(est) == set(weekly) and len(est) > 2
    for week, (e, n_events, n_days) in est.items():
        true, true_events, true_days = weekly[week]
        assert n_events == true_events and n_days == true_days, week
        assert abs(e - true) <= max(0.05 * true, 2), (week, e, true)


def test_heavy_hitters_mg_bound(spark):
    """Misra-Gries contract after the summary merge: every estimate
    undercounts its exact count by at most N/(K+1) (never overcounts),
    and any user whose true count exceeds N/(K+1) must be reported.
    Run twice to pin determinism of the order-pinned summary pass."""
    from email_etl_spark.io import load_table
    from email_etl_spark.plans.registry import REGISTRY
    from email_etl_spark.plans.relational_ext import MG_K

    q = REGISTRY["heavy_hitters_mg"]
    got = {r.user_id: r.est_count for r in q.builder(spark, SF_SMOKE).collect()}
    again = {r.user_id: r.est_count for r in q.builder(spark, SF_SMOKE).collect()}
    assert got == again  # pinned partition order -> reproducible summary

    ev = load_table(spark, SF_SMOKE, "events")
    exact = {
        r.user_id: r.n
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    n_total = sum(exact.values())
    bound = n_total / (MG_K + 1)
    assert len(got) > 0
    for u, est in got.items():
        assert 0 < est <= exact[u], (u, est, exact[u])
        assert exact[u] - est <= bound, (u, est, exact[u], bound)
    for u, n in exact.items():
        if n > bound:
            assert u in got, (u, n, bound)


def test_semdedup_k_matches_sql_floor_sqrt():
    """_semdedup_k (math.isqrt) must equal the oracle's
    GREATEST(KM_K, FLOOR(SQRT(n))) for any corpus size — including
    perfect squares, where a sloppy float sqrt could land one off."""
    import duckdb

    from email_etl_spark.plans.dedup import _semdedup_k
    from email_etl_spark.plans.search import KM_K

    con = duckdb.connect()
    ns = (
        list(range(0, 70))
        + [x * x for x in range(1, 80)]
        + [x * x - 1 for x in range(2, 80)]
        + [10**6, 10**6 + 1, 10**9, 10**12 - 1, 10**12]
    )
    for n in ns:
        sql_k = con.execute(
            f"SELECT GREATEST({KM_K}, CAST(FLOOR(SQRT(CAST({n} AS DOUBLE))) AS BIGINT))"
        ).fetchone()[0]
        assert _semdedup_k(n) == sql_k, (n, _semdedup_k(n), sql_k)
