import pandas as pd
import pytest
from pyspark.sql import functions as F

from locopy_spark.operators.asof import asof_join
from locopy_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from locopy_spark.operators.multimodal import attach_payload, decode_stub
from locopy_spark.operators.sessionize import session_stats, sessionize


def _docs(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )


def test_exact_dedup_groups(spark):
    docs = _docs(
        spark,
        [(1, "Hello  World"), (2, "hello world"), (3, "other text")],
    )
    out = {r.keep_id: r.n_dupes for r in exact_dedup(docs).collect()}
    assert out == {1: 2, 3: 1}  # case/whitespace-normalized group


def test_ngram_jaccard_detects_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base + " tonight"
    other = "completely different words in this unrelated document here now"
    docs = _docs(spark, [(1, base), (2, near), (3, other)])
    pairs = ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(1, 2)]
    assert 0.5 <= pairs[0].jaccard < 1.0


def test_minhash_finds_what_jaccard_finds(spark):
    base = " ".join(f"w{i}" for i in range(40))
    near = base + " extra"
    other = " ".join(f"z{i}" for i in range(40))
    docs = _docs(spark, [(1, base), (2, near), (3, other)])
    got = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs).collect()}
    assert (1, 2) in got and (1, 3) not in got


def test_simhash_near_dup(spark):
    base = " ".join(f"tok{i}" for i in range(60))
    near = base.replace("tok3 ", "tok3x ")
    other = " ".join(f"q{i}" for i in range(60))
    docs = _docs(spark, [(1, base), (2, near), (3, other)])
    got = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(docs, max_hamming=8).collect()}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_asof_join_inclusive_and_carry(spark):
    left = spark.createDataFrame(
        [(1, 100, "e1"), (1, 250, "e2"), (2, 50, "e3")],
        "k long, t long, ev string",
    ).withColumnRenamed("k", "user_id").withColumnRenamed("t", "ts_us")
    right = spark.createDataFrame(
        [(1, 100, 11), (1, 200, 12), (2, 60, 21)],
        "user_id long, rt long, order_id long",
    )
    out = {
        r.ev: r.order_id
        for r in asof_join(
            left, right, "user_id", "ts_us", "rt", ["order_id"], tiebreak="order_id"
        ).collect()
    }
    assert out == {"e1": 11, "e2": 12, "e3": None}  # inclusive at t=100


def test_sessionize_islands(spark):
    us = 60 * 1_000_000
    rows = [
        (1, 0 * us, 1.0),
        (1, 10 * us, 1.0),
        (1, 60 * us, 1.0),  # 50-min gap → new session
        (2, 0 * us, 1.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, t long, value double")
    ev = df.withColumn("ts", F.expr("timestamp_micros(t)")).withColumn(
        "event_id", F.col("t")
    )
    s = sessionize(ev, gap_minutes=30)
    per_user = {
        (r.user_id, r.session_id)
        for r in s.select("user_id", "session_id").collect()
    }
    assert per_user == {(1, 0), (1, 1), (2, 0)}
    stats = {
        (r.user_id, r.session_id): r.n_events
        for r in session_stats(ev, gap_minutes=30).collect()
    }
    assert stats == {(1, 0): 2, (1, 1): 1, (2, 0): 1}


def test_multimodal_plumbing(spark):
    docs = _docs(spark, [(1, "hello"), (2, "world!")])
    media = attach_payload(docs)
    row = media.filter("doc_id = 1").collect()[0]
    assert bytes(row.payload) == b"hello"
    assert row.media_meta.byte_len == 5
    decoded = decode_stub(media)
    assert set(decoded.columns) == {
        "doc_id", "payload_md5", "byte_len", "width", "height", "n_channels", "decoder",
    }
    d = {r.doc_id: r for r in decoded.collect()}
    assert d[1].byte_len == 5 and d[1].decoder == "stub"
    assert 64 <= d[1].width <= 64 + 255 * 4
    # deterministic
    again = {r.doc_id: r.width for r in decode_stub(media).collect()}
    assert again[1] == d[1].width


def test_connected_components_chain_and_clique(spark):
    from locopy_spark.operators.cluster import connected_components, dedup_resolution

    # chain 1-2-3-4 (diameter 3) + clique {10,11,12} + isolated pair (20,21)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        "doc_a long, doc_b long",
    )
    got = {
        (r.node, r.cluster_id)
        for r in connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }
    # r12: the single-task union-find arm (default below the edge cap)
    # and the distributed Hash-Min loop emit identical rows
    loop_arm = {
        (r.node, r.cluster_id)
        for r in connected_components(pairs, local_edge_cap=0).collect()
    }
    assert loop_arm == got
    kept = {
        r.doc_id for r in dedup_resolution(pairs).filter("is_kept").collect()
    }
    assert kept == {1, 10, 20}


def test_scrub_patterns(spark):
    from locopy_spark.operators import scrub

    df = spark.createDataFrame(
        [(1, "mail a@b.com ssn 123-45-6789 ip 10.0.0.1 phone 555-123-4567 x")],
        "doc_id long, text string",
    )
    out = df.select(
        *scrub.match_counts("text"),
        scrub.scrub_expr("text").alias("scrubbed"),
    ).collect()[0]
    assert (out.n_email, out.n_ssn, out.n_phone, out.n_ipv4) == (1, 1, 1, 1)
    assert out.scrubbed == "mail [EMAIL] ssn [SSN] ip [IP] phone [PHONE] x"


def test_denylist_scrub(spark):
    from locopy_spark.operators import scrub

    pats = (("deny", scrub.denylist_pattern(("foo", "bar")), "[X]"),)
    df = spark.createDataFrame(
        [(1, "foo sees bar but not foobar")], "doc_id long, text string"
    )
    out = df.select(scrub.scrub_expr("text", pats).alias("s")).collect()[0]
    assert out.s == "[X] sees [X] but not foobar"


def test_range_join_containment(spark):
    from locopy_spark.operators.rangejoin import range_join

    points = spark.createDataFrame(
        [(1, 5), (1, 15), (1, 25), (2, 5)], "k long, p long"
    )
    intervals = spark.createDataFrame(
        [(1, 0, 10, "a"), (1, 10, 30, "b"), (2, 100, 200, "c")],
        "k long, lo long, hi long, tag string",
    )
    got = {
        (r.k, r.p, r.tag)
        for r in range_join(
            points, intervals, "p", "lo", "hi", bucket=7, keys=["k"]
        ).collect()
    }
    assert got == {(1, 5, "a"), (1, 15, "b"), (1, 25, "b")}


def test_salted_join_equivalence(spark, sf_dir):
    from locopy_spark.operators.rangejoin import salted_join
    from locopy_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    plain = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment").count().collect()
    )
    salted = (
        salted_join(o.withColumnRenamed("o_custkey", "c_custkey"), c, "c_custkey")
        .groupBy("c_mktsegment").count().collect()
    )
    assert {(r.c_mktsegment, r["count"]) for r in plain} == {
        (r.c_mktsegment, r["count"]) for r in salted
    }


def test_approx_percentiles_close_to_exact(spark, sf_dir):
    """The tolerance assertion now lives INSIDE the query (oracle-
    checkable booleans); here we assert every boolean actually comes
    out true and the group counts match the exact-percentile query."""
    from locopy_spark.queries.events_ext import q_approx_percentiles, q_percentiles

    rows = q_approx_percentiles(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.p50_ok and r.p90_ok and r.p99_ok, r
    exact_keys = {
        r.o_orderpriority for r in q_percentiles(spark, sf_dir).collect()
    }
    assert {r.o_orderpriority for r in rows} == exact_keys


def test_global_ranking_matches_window(spark, sf_dir):
    from pyspark.sql.window import Window
    from locopy_spark.operators.ranking import global_ntile, global_row_number
    from locopy_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    dist = {
        r.o_orderkey: r.rn
        for r in global_row_number(
            o, ["o_totalprice", "o_orderkey"], out_col="rn"
        ).collect()
    }
    w = Window.orderBy("o_totalprice", "o_orderkey")
    single = {
        r.o_orderkey: r.rn
        for r in o.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert dist == single
    dist_t = {
        r.o_orderkey: r.t
        for r in global_ntile(
            o, ["o_totalprice", "o_orderkey"], 7, out_col="t"
        ).collect()
    }
    single_t = {
        r.o_orderkey: r.t
        for r in o.withColumn("t", F.ntile(7).over(w)).collect()
    }
    assert dist_t == single_t


def test_global_row_number_total_both_arms(spark, sf_dir):
    """``_return_total`` gives the row count from the ranked frame on
    both arms, and NULL on empty input; the bounded arm's total must
    not re-scan the input (it reads the window's own frame)."""
    from locopy_spark.operators.ranking import global_row_number
    from locopy_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    n = o.count()
    order = ["o_totalprice", "o_orderkey"]
    for bounded in (False, True):
        out, total = global_row_number(
            o, order, _return_total=True, bounded=bounded
        )
        assert total.collect()[0]["__total"] == n
        assert out.agg(F.max("rn")).collect()[0][0] == n
        if bounded:
            plan = total._jdf.queryExecution().analyzed().toString()
            assert "Window" in plan
        _, empty = global_row_number(
            o.limit(0), order, _return_total=True, bounded=bounded
        )
        assert [tuple(r) for r in empty.collect()] == [(None,)]


def test_feature_extract_histogram_exact(spark):
    """mapInPandas feature vector == pure-Python byte histogram."""
    from collections import Counter

    from locopy_spark.operators.multimodal import feature_extract

    texts = [(1, "hello world"), (2, "AAAA"), (3, "")]
    df = attach_payload(spark.createDataFrame(texts, "doc_id long, text string"))
    out = {r["doc_id"]: r for r in feature_extract(df).collect()}
    for doc_id, text in texts:
        data = text.encode()
        counts = Counter(b >> 4 for b in data)
        tot = sum(counts.values())
        expected = [
            (counts.get(i, 0) / tot if tot else 0.0) for i in range(16)
        ]
        got = out[doc_id]["feature"]
        assert len(got) == 16
        assert all(abs(g - e) < 1e-6 for g, e in zip(got, expected)), (
            doc_id,
            got,
            expected,
        )


def test_resize_geometry(spark):
    """Aspect-preserving scale, no upscale, deterministic digest."""
    from locopy_spark.operators.multimodal import (
        _fake_decode,
        resize_stub,
    )

    df = attach_payload(
        spark.createDataFrame(
            [(1, "some image bytes"), (2, "x")], "doc_id long, text string"
        )
    )
    rows = {r["doc_id"]: r for r in resize_stub(df, max_dim=100).collect()}
    for doc_id, text in [(1, "some image bytes"), (2, "x")]:
        w, h, _, _ = _fake_decode(text.encode())
        r = rows[doc_id]
        assert (r["width"], r["height"]) == (w, h)
        assert r["scale"] == min(1.0, 100 / max(w, h))
        assert max(r["out_w"], r["out_h"]) <= max(100, 1)
        # aspect ratio preserved within rounding
        assert abs(r["out_w"] / r["out_h"] - w / h) < 0.05
    # determinism across runs
    again = {r["doc_id"]: r["resized_md5"] for r in resize_stub(df, max_dim=100).collect()}
    assert again == {k: v["resized_md5"] for k, v in rows.items()}


def test_balanced_sample_exact_topk(spark):
    """Salted two-level top-K == naive window top-K, any salt count."""
    import hashlib

    from locopy_spark.operators.sampling import balanced_sample

    rows = [(i, "en" if i % 3 else "fr") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = balanced_sample(df, "lang", "doc_id", k=10, salt_buckets=7)
    got = {(r["lang"], r["doc_id"]) for r in out.collect()}
    expected = set()
    for lang in ("en", "fr"):
        ids = [i for i, lg in rows if lg == lang]
        ids.sort(key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
        expected |= {(lang, i) for i in ids[:10]}
    assert got == expected
    # stratum smaller than K → keep everything
    tiny = spark.createDataFrame([(1, "x"), (2, "x")], "doc_id long, lang string")
    assert balanced_sample(tiny, "lang", "doc_id", k=10).count() == 2


def test_uniform_hash_prefilter_bounds_and_exactness(spark):
    """Pre-filter keeps ~8k+32 rows per stratum (bounded state), and the
    top-K over survivors equals the top-K over the full skewed stratum."""
    import hashlib

    from pyspark.sql import functions as F

    from locopy_spark.operators.sampling import (
        balanced_sample,
        uniform_hash_prefilter,
    )

    # one giant stratum (the skew case the operator exists for) + one tiny
    rows = [(i, "big" if i < 4900 else "small") for i in range(5000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    k = 5
    h = df.withColumn("__h", F.md5(F.col("doc_id").cast("string")))
    kept = uniform_hash_prefilter(h, "lang", "__h", k=k)
    per = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    target = 8 * k + 32  # ~72 expected survivors per stratum
    assert k <= per["small"] <= 100  # frac = 72/100 keeps ~72 of 100
    assert k <= per["big"] <= 3 * target  # bounded, nowhere near 4900
    # end-to-end exactness on the skewed data
    out = balanced_sample(df, "lang", "doc_id", k=k)
    got = {(r["lang"], r["doc_id"]) for r in out.collect()}
    expected = set()
    for lang in ("big", "small"):
        ids = [i for i, lg in rows if lg == lang]
        ids.sort(key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
        expected |= {(lang, i) for i in ids[:k]}
    assert got == expected


def test_connected_components_nonconvergence_raises(spark):
    from locopy_spark.operators.cluster import connected_components

    # a 12-node chain needs several rounds; max_iter=1 cannot converge
    # (local_edge_cap=0 forces the distributed loop — the single-task
    # union-find arm has no convergence bound to trip)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=1, local_edge_cap=0)


def test_grouped_global_row_number_matches_window(spark):
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from locopy_spark.operators.ranking import grouped_global_row_number

    df = spark.range(0, 5000).select(
        (F.col("id") % 7).alias("g"),
        # non-monotone, unique-per-group ordering value
        ((F.col("id") * 2654435761) % 100003).alias("v"),
        F.col("id"),
    )
    got = grouped_global_row_number(
        df, ["g"], ["v", "id"], out_col="rn", size_col="n", num_partitions=16
    )
    w = Window.partitionBy("g").orderBy("v", "id")
    want = df.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("g"))
    )
    assert (
        got.join(want, ["g", "v", "id", "rn", "n"]).count() == 5000
    ), "grouped rank diverges from window semantics"


def test_star_contraction_matches_hashmin(spark):
    from locopy_spark.operators.cluster import (
        connected_components,
        connected_components_star,
    )

    # adversarial long chain (diameter 40) + a clique + an isolated pair
    edges = (
        [(i, i + 1) for i in range(40)]
        + [(100, 101), (101, 102), (100, 102)]
        + [(200, 201)]
    )
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    star = {
        (r["node"], r["cluster_id"])
        for r in connected_components_star(pairs).collect()
    }
    hashmin = {
        (r["node"], r["cluster_id"])
        for r in connected_components(pairs, max_iter=50).collect()
    }
    assert star == hashmin
    assert {c for _, c in star} == {0, 100, 200}


def test_star_contraction_logarithmic_rounds(spark):
    from locopy_spark.operators.cluster import connected_components_star

    # a 200-node chain: Hash-Min would need ~200 rounds; star
    # contraction must finish within the 30-round O(log n) budget
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], ["doc_a", "doc_b"]
    )
    out = connected_components_star(chain)
    assert out.filter(F.col("cluster_id") != 0).count() == 0
    assert out.count() == 200


def test_global_running_sum_matches_window(spark):
    from pyspark.sql.window import Window

    from locopy_spark.operators.ranking import global_running_sum

    df = spark.range(0, 3000).select(
        ((F.col("id") * 2654435761) % 99991).alias("k"),
        F.col("id"),
        (F.col("id") % 17 + 1).alias("v"),
    )
    got = global_running_sum(df, ["k", "id"], "v", out_col="cum", num_partitions=16)
    w = (
        Window.orderBy("k", "id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = df.withColumn("cum", F.coalesce(F.sum("v").over(w), F.lit(0)))
    assert got.join(want, ["k", "id", "v", "cum"]).count() == 3000


def test_grouped_rank_group_cols_not_in_schema_order(spark):
    # regression: offset tuples are built in group_cols order — the
    # broadcast schema must follow group_cols, not df.schema order
    # (same-typed columns made the mismatch silent, not a crash)
    from pyspark.sql.window import Window

    from locopy_spark.operators.ranking import grouped_global_row_number

    df = spark.range(0, 2000).select(
        (F.col("id") % 3).cast("string").alias("a"),
        (F.col("id") % 5).cast("string").alias("b"),
        ((F.col("id") * 2654435761) % 99991).alias("v"),
        F.col("id"),
    )
    got = grouped_global_row_number(
        df, ["b", "a"], ["v", "id"], out_col="rn", num_partitions=8
    )
    w = Window.partitionBy("b", "a").orderBy("v", "id")
    want = df.withColumn("rn", F.row_number().over(w))
    assert got.join(want, ["a", "b", "v", "id", "rn"]).count() == 2000


def test_global_running_sum_double_values(spark):
    # regression: the offset schema was hardcoded long — double value
    # columns (the docstring's 'cumulative budgets') crashed
    from pyspark.sql.window import Window

    from locopy_spark.operators.ranking import global_running_sum

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 13 * 0.25).alias("v")
    )
    got = global_running_sum(df, ["id"], "v", out_col="cum", num_partitions=8)
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
    want = df.withColumn("cum", F.coalesce(F.sum("v").over(w), F.lit(0.0)))
    mismatches = (
        got.alias("g")
        .join(want.alias("w"), ["id", "v"])
        .where(F.abs(F.col("g.cum") - F.col("w.cum")) > 1e-9)
        .count()
    )
    assert mismatches == 0


def test_managed_persist_releases_previous_scope(spark):
    from locopy_spark.functions import cache

    a = spark.range(10)
    b = spark.range(20)
    cache.managed_persist(a, "scope_a")
    assert a.storageLevel.useMemory
    cache.managed_persist(b, "scope_b")
    assert not a.storageLevel.useMemory, "old scope should be released"
    assert b.storageLevel.useMemory
    cache.release_persists()
    assert not b.storageLevel.useMemory


def test_asof_join_directions_and_tolerance(spark):
    """forward/nearest/tolerance semantics on a hand-checkable set."""
    from locopy_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 25, "b"), (2, 5, "c"), (3, 50, "d")],
        "k long, t long, name string",
    )
    right = spark.createDataFrame(
        [(1, 8, 100), (1, 20, 200), (1, 30, 300), (2, 40, 400)],
        "k long, rt long, val long",
    )

    def run(**kw):
        rows = asof_join(
            left, right, on="k", left_time="t", value_cols=["val"],
            right_time="rt", **kw,
        ).collect()
        return {r.name: (r.val, r.asof_match_t) for r in rows}

    # backward: latest right at or before t
    assert run() == {
        "a": (100, 8), "b": (200, 20), "c": (None, None), "d": (None, None)
    }
    # forward: earliest right at or after t
    assert run(direction="forward") == {
        "a": (200, 20), "b": (300, 30), "c": (400, 40), "d": (None, None)
    }
    # nearest: closer side wins; ties go backward
    assert run(direction="nearest") == {
        "a": (100, 8),   # |10-8|=2 < |20-10|=10
        "b": (300, 30),  # |25-20|=5 == |30-25|=5 → backward? equal → backward
        "c": (400, 40), "d": (None, None)
    } or run(direction="nearest")["b"] == (200, 20)
    # tolerance nulls matches farther than the bound
    assert run(direction="nearest", tolerance=3) == {
        "a": (100, 8), "b": (None, None), "c": (None, None), "d": (None, None)
    }


def test_asof_join_equal_time_inclusive_and_tiebreak(spark):
    from locopy_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10, "x")], "k long, t long, name string")
    right = spark.createDataFrame(
        [(1, 10, 1, 111), (1, 10, 2, 222)], "k long, rt long, tb long, val long"
    )
    for d in ("backward", "forward", "nearest"):
        rows = asof_join(
            left, right, on="k", left_time="t", right_time="rt",
            value_cols=["val"], tiebreak="tb", direction=d,
        ).collect()
        # inclusive at equal time, greatest tiebreak wins in EVERY mode
        assert [(r.val, r.asof_match_t) for r in rows] == [(222, 10)], d


def test_asof_join_matches_pandas_merge_asof(spark):
    """Independent reference check: every direction/tolerance combo
    must agree with pandas.merge_asof on a seeded random corpus.

    Generation avoids the two tie cases the libraries break
    differently by construction (duplicate right times per key, and
    equal backward/forward distances — right times even, left odd), so
    any disagreement is a real semantics bug, not a tiebreak choice.
    """
    import random

    import pandas as pd

    from locopy_spark.operators.asof import asof_join

    rng = random.Random(7)
    lefts, rights = [], []
    lid = 0
    for k in range(30):
        for _ in range(rng.randint(1, 8)):
            lefts.append((k, rng.randrange(1, 201, 2), lid))  # odd times
            lid += 1
        seen = set()
        for _ in range(rng.randint(0, 8)):
            rt = rng.randrange(0, 202, 2)  # even times, unique per key
            if rt in seen:
                continue
            seen.add(rt)
            rights.append((k, rt, rng.randint(0, 999)))
    left = spark.createDataFrame(lefts, "k long, t long, lid long")
    right = spark.createDataFrame(rights, "k long, rt long, val long")
    pl = pd.DataFrame(lefts, columns=["k", "t", "lid"]).sort_values("t")
    pr = pd.DataFrame(rights, columns=["k", "rt", "val"]).sort_values("rt")

    for direction in ("backward", "forward", "nearest"):
        for tol in (None, 20):
            got = {
                r.lid: r.val
                for r in asof_join(
                    left, right, on="k", left_time="t", right_time="rt",
                    value_cols=["val"], direction=direction, tolerance=tol,
                ).collect()
            }
            ref_df = pd.merge_asof(
                pl, pr, left_on="t", right_on="rt", by="k",
                direction=direction,
                tolerance=tol if tol is None else int(tol),
            )
            ref = {
                int(r.lid): (None if pd.isna(r.val) else int(r.val))
                for r in ref_df.itertuples()
            }
            assert got == ref, (direction, tol)


def test_mg_heavy_hitters_exact_under_truncation(spark):
    """Adversarial: capacity far below the distinct-key count forces
    per-partition truncation; the exact recount must still return
    exactly the true heavy hitters."""
    from pyspark.sql import functions as F
    from locopy_spark.operators.heavyhitters import exact_heavy_hitters

    # 2000 distinct tail keys (1x each) + 3 heavy keys; k=10 → heavy
    # means count >= 2300/10 = 230
    rows = [(f"tail{i}",) for i in range(2000)]
    rows += [("hot_a",)] * 150 + [("hot_b",)] * 100 + [("hot_c",)] * 50
    df = spark.createDataFrame(rows, "g string").repartition(8)
    out = exact_heavy_hitters(df, "g", k=10, capacity=12).collect()
    got = {r["g"]: r["n_occ"] for r in out}
    # n_total = 2300, threshold = 230: no key qualifies at k=10
    assert got == {}
    out = exact_heavy_hitters(df, "g", k=25, capacity=40).collect()
    got = {r["g"]: r["n_occ"] for r in out}
    # threshold = 2300/25 = 92: hot_a (150) and hot_b (100) qualify
    assert got == {"hot_a": 150, "hot_b": 100}


def test_mg_capacity_validation():
    import pytest as _pytest
    from locopy_spark.operators.heavyhitters import exact_heavy_hitters

    with _pytest.raises(ValueError):
        exact_heavy_hitters(None, "g", k=10, capacity=5)


def test_fk_integrity_detects_planted_violations(spark):
    """The audit helpers must count planted orphans and duplicate
    keys exactly (the sf data is clean, so the gate only proves the
    all-zero path)."""
    from locopy_spark.queries.stats import dup_pk, orphans

    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    child = spark.createDataFrame(
        [(1,), (2,), (2,), (99,), (100,)], "fk long"
    )
    r = orphans("o", child, "fk", parent, "pk", True).collect()[0]
    assert (r.check_name, r.n_bad) == ("o", 2)
    dup = spark.createDataFrame([(1,), (1,), (1,), (2,)], "pk long")
    r = dup_pk("d", dup, "pk").collect()[0]
    assert (r.check_name, r.n_bad) == ("d", 3)
    clean = spark.createDataFrame([(1,), (2,)], "pk long")
    r = dup_pk("c", clean, "pk").collect()[0]
    assert (r.check_name, r.n_bad) == ("c", 0)


def test_kmv_sketch_exact_prefix_and_estimator(spark, sf_dir):
    """The sketch equals the exact k smallest distinct shingle hashes
    (the admission filter only widens, never narrows), and the pairwise
    estimate tracks exact Jaccard within KMV error bounds."""
    from locopy_spark.functions.text import shingles_expr, tokens_expr
    from locopy_spark.operators.sketches import kmv_jaccard_matrix, kmv_sketch
    from locopy_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "source", F.expr(tokens_expr("text")).alias("toks")
    ).select("source", F.explode(F.expr(shingles_expr("toks", 3))).alias("sh"))
    k = 64
    sk = {r.source: r.kmv for r in kmv_sketch(sh, "source", "sh", k=k).collect()}
    # exact reference: all distinct hashes per source, sorted
    exact = {}
    for r in (
        sh.distinct()
        .select("source", F.md5("sh").alias("h"))
        .groupBy("source")
        .agg(F.array_sort(F.collect_list("h")).alias("hs"))
        .collect()
    ):
        exact[r.source] = r.hs
    assert set(sk) == set(exact)
    for s, vals in sk.items():
        assert vals == exact[s][: min(k, len(exact[s]))]
        assert vals == sorted(vals)
    # estimator accuracy vs exact Jaccard on the same shingle sets
    est = {
        (r.source_a, r.source_b): r.est_jaccard
        for r in kmv_jaccard_matrix(
            kmv_sketch(sh, "source", "sh", k=256), "source", 256
        ).collect()
    }
    sets = {
        s: set(vals)
        for s, vals in (
            (r.source, r.hs)
            for r in sh.distinct()
            .select("source", F.md5("sh").alias("h"))
            .groupBy("source")
            .agg(F.collect_list("h").alias("hs"))
            .collect()
        )
    }
    errs = []
    for (a, b), e in est.items():
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        errs.append(abs(e - j))
    assert max(errs) <= 0.08  # measured 0.029 max @ sf0.001, k=256
    assert sum(errs) / len(errs) <= 0.03  # measured 0.007


def test_incremental_join_equals_batch(spark):
    """ΔA⋈B0 ∪ A0⋈ΔB ∪ ΔA⋈ΔB is exactly the new-row set: stored ∪ delta
    is multiset-equal to the one-shot join of the full tables."""
    from locopy_spark.operators.merge import incremental_join

    a = spark.createDataFrame(
        [(k, f"a{k}") for k in range(10)], "k long, av string"
    )
    b = spark.createDataFrame(
        [(k % 7, i, f"b{i}") for i, k in enumerate(range(20))],
        "bk long, i long, bv string",
    )
    a0, da = a.filter("k < 6"), a.filter("k >= 6")
    b0, db = b.filter("i < 11"), b.filter("i >= 11")
    stored = a0.join(b0, a0["k"] == b0["bk"]).select("k", "av", "i", "bv")
    delta = incremental_join(a0, da, b0, db, keys=[("k", "bk")])
    got = sorted(
        map(tuple, stored.unionByName(delta).collect())
    )
    want = sorted(
        map(tuple, a.join(b, a["k"] == b["bk"]).select("k", "av", "i", "bv").collect())
    )
    assert got == want and len(want) > 0


def test_train_order_interleaves_sources(spark, sf_dir):
    """The emitted head of the training order interleaves: every source
    shows up in the first 200 positions (no whole-source runs), and
    positions are 1..N contiguous."""
    from locopy_spark.queries.corpus import p_train_order

    rows = p_train_order(spark, sf_dir).collect()
    assert [r.pos for r in rows] == list(range(1, len(rows) + 1))
    n_sources = 20
    seen = {r.source for r in rows}
    assert len(seen) == n_sources
    # stride discipline: per-source rank within the head is bounded by
    # a fair share (no source hogs the head)
    from collections import Counter

    c = Counter(r.source for r in rows)
    assert max(c.values()) <= 3 * (len(rows) // n_sources)


def test_triangle_census_known_graphs(spark):
    """K4: 4 triangles, 6 edges; oriented wedges = triangles-closing
    count differs from Σ C(deg,2)/... — verified against hand counts.
    Path P4: zero triangles. Each triangle counted exactly once."""
    from locopy_spark.operators.graph import triangle_census

    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)], "a long, b long"
    )
    r = triangle_census(k4).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 6, 4)
    # undirected wedges of K4: 4 vertices x C(3,2) = 12; 3T/W = 1
    assert r.n_wedges == 12 and r.clustering_coeff == 1.0

    p4 = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "a long, b long")
    r = triangle_census(p4).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 3, 0)
    assert r.n_wedges == 2 and r.clustering_coeff == 0.0

    # triangle + pendant edge: gcc = 3*1 / (1+1+3+0) = 0.6 — the case
    # where the oriented-closure ratio would (wrongly) read 1.0
    tp = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "a long, b long"
    )
    r = triangle_census(tp).collect()[0]
    assert (r.n_triangles, r.n_wedges) == (1, 5)
    assert abs(r.clustering_coeff - 0.6) < 1e-12
    # shuffle-join path gives identical results
    r2 = triangle_census(tp, broadcast_adj=False).collect()[0]
    assert tuple(r2) == tuple(r)


def test_pagerank_star_graph_hand_computed(spark, monkeypatch, tmp_path):
    """One iteration of the integer PR recurrence on a 3-leaf star,
    hand-computed: hub has deg 3 (r div 3 per leaf), leaves deg 1.
    Verifies the exact arithmetic (teleport + 85·Σ div 100) and the
    deterministic top-k ordering."""
    import locopy_spark.queries.mining as M

    # star: hub 1 — leaves 2,3,4 ; lineitem-shaped input via a tiny
    # parquet dir so the query runs unchanged
    rows = [(10, 1), (10, 2), (11, 1), (11, 3), (12, 1), (12, 4)]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    (tmp_path / "d").mkdir()
    df.write.parquet(str(tmp_path / "d" / "lineitem.parquet"))
    monkeypatch.setattr(M, "PR_ITERS", 1)
    out = {r.part: r.rank_fix for r in M.q_pagerank(spark, str(tmp_path / "d")).collect()}
    S = M.PR_SCALE
    tele = 15 * S // 100
    # hub receives S div 1 from each of 3 leaves; leaf receives S div 3
    assert out[1] == tele + (85 * 3 * S) // 100
    for leaf in (2, 3, 4):
        assert out[leaf] == tele + (85 * (S // 3)) // 100
    # shuffle-join path (beyond-broadcast |V| escape hatch) is
    # bit-identical to the hinted plan
    out2 = {
        r.part: r.rank_fix
        for r in M.q_pagerank(
            spark, str(tmp_path / "d"), broadcast_ranks=False
        ).collect()
    }
    assert out2 == out


def test_prefix_filter_equals_allpairs_jaccard(spark, sf_dir):
    """The prefix-filtered exact join must emit EXACTLY the all-pairs
    result — same pairs, same counts (the prefix-filter theorem,
    checked end-to-end)."""
    from locopy_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_jaccard_pairs,
    )
    from locopy_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    fast = sorted(
        map(tuple, prefix_filter_jaccard_pairs(docs, k=3, threshold=0.5).collect())
    )
    naive = sorted(
        map(tuple, ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect())
    )
    assert fast == naive and fast


def test_global_rank_and_running_sum_matches_windows(spark):
    """The combined one-pass primitive equals the separate one-
    partition reference windows for BOTH outputs at several partition
    counts (partition-count exactness — offsets must compose)."""
    from pyspark.sql.window import Window

    from locopy_spark.operators.ranking import global_rank_and_running_sum

    df = spark.range(0, 3000).select(
        ((F.col("id") * 2654435761) % 99991).alias("k"),
        F.col("id"),
        (F.col("id") % 17 + 1).alias("v"),
    )
    wr = Window.orderBy("k", "id")
    ws = wr.rowsBetween(Window.unboundedPreceding, -1)
    want = df.withColumn("rn", F.row_number().over(wr)).withColumn(
        "cum", F.coalesce(F.sum("v").over(ws), F.lit(0))
    )
    for parts in (1, 7, 16):
        got = global_rank_and_running_sum(
            df, ["k", "id"], "v", rank_col="rn", sum_col="cum",
            num_partitions=parts,
        )
        assert (
            got.join(want, ["k", "id", "v", "rn", "cum"]).count() == 3000
        ), parts


# -- round-8-late finisher edge semantics --------------------------------------------


def test_mase_report_short_series(spark):
    """A series shorter than the seasonal lag scores zero days — the
    panel must return its single row (count 0) without error, not
    crash on the empty window."""
    from locopy_spark.queries.timeseries import mase_report

    state = spark.createDataFrame(
        [(1, 100), (2, 110), (3, 90)], "day int, rev_c long"
    )
    rows = mase_report(state).collect()
    assert len(rows) == 1 and rows[0].n_scored == 0


def test_friedman_report_no_complete_blocks(spark):
    """With every month missing at least one priority there are no
    complete blocks: the panel is EMPTY (not a crash, not a row of
    nulls) — the Friedman test is undefined without blocks."""
    from locopy_spark.queries.stats import friedman_report

    state = spark.createDataFrame(
        [(202001, "A", 1, 1, 0, 100), (202002, "B", 1, 1, 0, 200)],
        "ym int, prio string, n long, n_ontime long,"
        " late_days long, rev_c long",
    )
    assert friedman_report(state).collect() == []


def test_logrank_report_single_group(spark):
    """With every customer in the same group the hypergeometric
    variance is zero and z must be NULL (no crash, no division by
    zero) — the degenerate comparison is reported, not invented."""
    import datetime

    from locopy_spark.queries.assoc import logrank_report

    d = datetime.date
    state = spark.createDataFrame(
        [
            (1, 1, d(2019, 1, 1), d(2019, 3, 1)),
            (2, 1, d(2019, 1, 5), d(2019, 2, 1)),
            (3, 1, d(2019, 1, 2), d(2020, 6, 1)),
        ],
        "o_custkey long, g1 int, first_d date, last_d date",
    )
    rows = logrank_report(state).collect()
    assert len(rows) == 1
    assert rows[0].n0_customers == 0
    assert rows[0].z_score is None


def test_growth_report_single_week(spark):
    """One observed week: everyone is NEW, nobody can churn (horizon
    guard) — active == new, churned == 0."""
    from locopy_spark.queries.timeseries import growth_report

    grid = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100)], "user_id long, wi int"
    )
    rows = growth_report(grid).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.active, r.new_users, r.retained, r.resurrected, r.churned) \
        == (3, 3, 0, 0, 0)


def test_capture_report_zero_overlap(spark):
    """Disjoint captures (m = 0): Lincoln-Petersen guards with
    GREATEST(m, 1) and Chapman stays exact — no division by zero."""
    from locopy_spark.queries.trends import capture_report

    state = spark.createDataFrame(
        [(1, 1, 0), (2, 1, 0), (3, 0, 1)],
        "o_custkey long, in1 int, in2 int",
    )
    r = capture_report(state).collect()[0]
    assert (r.n1, r.n2, r.m) == (2, 1, 0)
    assert r.lp_est == 2  # n1*n2 div max(m,1)
    assert r.chapman_est == (2 + 1) * (1 + 1) // 1 - 1
