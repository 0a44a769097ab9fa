from pyspark.sql import functions as F

from locopy_spark.queries.events import q_events_window
from locopy_spark.sources.tables import load_table
from locopy_spark.streaming.jobs import (
    read_event_stream,
    run_to_memory,
    stream_sessionize,
    stream_window_agg,
)


def test_stream_window_matches_batch_counts(spark, sf_dir):
    stream = read_event_stream(spark, sf_dir)
    run_to_memory(stream_window_agg(stream), "win_out", mode="complete")
    got = {
        (r["window"]["start"], r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    assert got, "stream produced no windows"
    batch = {
        (r.hour_ts, r.event_type): r.n_events
        for r in q_events_window(spark, sf_dir).collect()
    }
    # per-type totals agree between streaming and batch twins
    def totals(d):
        out = {}
        for (_, et), n in d.items():
            out[et] = out.get(et, 0) + n
        return out

    assert totals(got) == totals(batch)


def test_stream_sessionize_runs(spark, sf_dir):
    stream = read_event_stream(spark, sf_dir)
    run_to_memory(stream_sessionize(stream), "sess_out", mode="complete")
    rows = spark.sql("SELECT * FROM sess_out").collect()
    assert rows
    total_events = sum(r.n_events for r in rows)
    assert total_events == load_table(spark, sf_dir, "events").count()
    assert all(r.session_start_us <= r.session_end_us for r in rows)


def test_stream_user_totals_stateful(spark, sf_dir):
    from locopy_spark.streaming.stateful import stream_user_totals

    stream = read_event_stream(spark, sf_dir)
    run_to_memory(stream_user_totals(stream), "totals_out", mode="update")
    # last update per user is the final running total
    got = {
        r.user_id: (r.n_events, r.sum_value_fix)
        for r in spark.sql("SELECT * FROM totals_out").collect()
    }
    assert got, "stateful op produced no rows"
    batch = {
        r.user_id: (r.n, r.s_fix)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("cast(floor(value * 1000 + 0.5) as bigint)")).alias(
                "s_fix"
            ),
        )
        .collect()
    }
    assert got == batch


def test_stream_dedup(spark, sf_dir):
    from locopy_spark.streaming.stateful import stream_dedup

    stream = read_event_stream(spark, sf_dir)
    run_to_memory(stream_dedup(stream), "dedup_out", mode="append")
    n = spark.sql("SELECT COUNT(DISTINCT event_id) AS n FROM dedup_out").collect()[0].n
    total = spark.sql("SELECT COUNT(*) AS n FROM dedup_out").collect()[0].n
    assert n == total
    assert total == load_table(spark, sf_dir, "events").select("event_id").distinct().count()


def test_stream_enrich_static_join(spark, sf_dir):
    from locopy_spark.streaming.stateful import stream_enrich

    dim = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    stream = read_event_stream(spark, sf_dir)
    run_to_memory(
        stream_enrich(stream, dim, on="user_id"), "enrich_out", mode="append"
    )
    got = spark.sql(
        "SELECT c_mktsegment, COUNT(*) AS n FROM enrich_out GROUP BY 1"
    ).collect()
    batch = (
        load_table(spark, sf_dir, "events")
        .join(dim, "user_id", "left")
        .groupBy("c_mktsegment")
        .count()
        .collect()
    )
    assert {(r.c_mktsegment, r.n) for r in got} == {
        (r.c_mktsegment, r["count"]) for r in batch
    }


def test_stream_stream_join_matches_batch(spark, sf_dir):
    from locopy_spark.streaming.jobs import stream_stream_join

    stream = read_event_stream(spark, sf_dir)
    run_to_memory(stream_stream_join(stream), "ssj_out", mode="append")
    got = {
        (r.view_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM ssj_out").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    batch = {
        (r.view_id, r.purchase_id)
        for r in v.join(
            p,
            F.expr(
                "v_user = p_user AND purchase_ts >= view_ts "
                "AND purchase_ts <= view_ts + INTERVAL 30 minutes"
            ),
        ).collect()
    }
    assert got and got == batch


def test_stream_quality_filter_matches_batch(spark, sf_dir):
    from locopy_spark.queries.docs_ext import t_quality_filter
    from locopy_spark.streaming.jobs import (
        read_document_stream,
        stream_quality_filter,
    )

    out = stream_quality_filter(read_document_stream(spark, sf_dir))
    q = (
        out.writeStream.format("memory")
        .queryName("sq_filter")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.doc_id, r.n_tokens, r.keep)
            for r in spark.sql("SELECT * FROM sq_filter").collect()
        }
    finally:
        q.stop()
    want = {
        (r.doc_id, r.n_tokens, r.keep)
        for r in t_quality_filter(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_watermark_drops_late_data(spark, tmp_path):
    """True late-arrival semantics: events older than the watermark are
    dropped, and append mode only emits windows the watermark has
    closed."""
    import pyspark.sql.functions as F

    from locopy_spark.streaming.jobs import stream_window_agg

    land = tmp_path / "landing"
    land.mkdir()
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(land / name))

    hr = "2024-01-01 {:02d}:{:02d}:00"
    # batch 1: three events inside the 10:00-11:00 window
    write_batch(
        "b1",
        [
            (1, __import__("datetime").datetime(2024, 1, 1, 10, 5), 1, "view", 1.0),
            (2, __import__("datetime").datetime(2024, 1, 1, 10, 15), 2, "view", 1.0),
            (3, __import__("datetime").datetime(2024, 1, 1, 10, 45), 1, "view", 1.0),
        ],
    )
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(str(land))
    )
    out = stream_window_agg(stream, window="1 hour", watermark="30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("wm_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # watermark still inside the window: nothing finalized yet
        assert spark.sql("SELECT * FROM wm_test").count() == 0
        # batch 2: an event at 14:00. The watermark only advances AFTER
        # this batch completes (to 14:00 - 30min = 13:30)
        write_batch(
            "b2",
            [(4, __import__("datetime").datetime(2024, 1, 1, 14, 0), 3, "view", 1.0)],
        )
        q.processAllAvailable()
        # batch 3: a LATE event back at 10:30 — now behind the 13:30
        # watermark, so it must be dropped, and the closed 10-11 window
        # flushes with its original contents
        write_batch(
            "b3",
            [(5, __import__("datetime").datetime(2024, 1, 1, 10, 30), 9, "view", 99.0)],
        )
        q.processAllAvailable()
        # one more epoch so any pending finalized windows flush
        write_batch(
            "b4",
            [(6, __import__("datetime").datetime(2024, 1, 1, 14, 5), 3, "view", 1.0)],
        )
        q.processAllAvailable()
        rows = {
            (r["window"].start.hour, r.n_events, float(r.sum_value))
            for r in spark.sql("SELECT * FROM wm_test").collect()
        }
    finally:
        q.stop()
    # 10:00 window finalized with the ORIGINAL 3 events — the late
    # 10:30 row (value 99.0) was dropped, not merged
    assert (10, 3, 3.0) in rows
    assert not any(v == 99.0 or n == 4 for _, n, v in rows)


def test_stream_incr_rollup_matches_batch(spark, sf_dir):
    """foreachBatch rollup maintenance converges to the one-shot batch
    rollup — the streaming half of q_incr_rollup's incremental==batch
    property."""
    from locopy_spark.queries.events_ext import q_incr_rollup
    from locopy_spark.streaming.jobs import read_event_stream, stream_incr_rollup

    stream = read_event_stream(spark, sf_dir)
    q = stream_incr_rollup(stream, state_view="rollup_state_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.hour_us // 1_000_000, r.event_type): (r.n_events, r.sum_value_fix)
        for r in spark.table("global_temp.rollup_state_t").collect()
    }
    want = {
        (r.hour_ts, r.event_type): (
            r.n_events,
            round(r.sum_value * 1000),
        )
        for r in q_incr_rollup(spark, sf_dir).collect()
    }
    assert got and got == want


def test_stream_asof_enrich_matches_batch(spark, sf_dir):
    """Temporal dimension lookup on the stream equals the batch as-of
    join on the same data — late events get the dimension state at
    THEIR time, not the latest snapshot row."""
    from locopy_spark.functions.numeric import epoch_us
    from locopy_spark.operators.asof import asof_join
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.jobs import read_event_stream
    from locopy_spark.streaming.stateful import stream_asof_enrich

    o = load_table(spark, sf_dir, "orders")
    dim = o.select(
        F.col("o_custkey").alias("user_id"),
        epoch_us(o, "o_orderdate").alias("od_us"),
        "o_orderkey",
        "o_totalprice",
    )
    stream = (
        read_event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", F.unix_micros("ts").alias("ts_us"))
    )
    q = stream_asof_enrich(
        stream, dim, on="user_id", left_time="ts_us", right_time="od_us",
        value_cols=["o_orderkey", "o_totalprice"], tiebreak="o_orderkey",
        out_view="asof_en_t",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.event_id, r.o_orderkey)
        for r in spark.table("global_temp.asof_en_t").collect()
    }
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    left = e.select("user_id", "event_id", epoch_us(e, "ts").alias("ts_us"))
    want = {
        (r.event_id, r.o_orderkey)
        for r in asof_join(
            left, dim, on="user_id", left_time="ts_us", right_time="od_us",
            value_cols=["o_orderkey", "o_totalprice"], tiebreak="o_orderkey",
        ).collect()
    }
    assert got and got == want


def test_stream_near_dedup_matches_batch(spark, sf_dir):
    """First-seen-band streaming near-dup equals the batch arrival
    dedup when docs arrive in order (single-file stream)."""
    from locopy_spark.queries.docs import d_incr_dedup
    from locopy_spark.streaming.jobs import read_document_stream
    from locopy_spark.streaming.stateful import stream_near_dedup

    q = stream_near_dedup(
        read_document_stream(spark, sf_dir), out_view="ndd_out",
        state_view="ndd_state",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.doc_id, r.is_dup)
        for r in spark.table("global_temp.ndd_out").collect()
    }
    want = {
        (r.doc_id, r.is_dup) for r in d_incr_dedup(spark, sf_dir).collect()
    }
    assert got and got == want
    assert any(d for _, d in got)  # the corpus really contains near-dups


def test_stream_cdc_apply_matches_batch(spark, sf_dir, tmp_path):
    """Micro-batched I/U/D replay converges to the batch cdc_apply:
    the streaming dimension follows its changelog exactly."""
    import shutil
    from pathlib import Path

    from locopy_spark.queries.etl_ext import _changelog, q_cdc_apply
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_cdc_apply

    c = load_table(spark, sf_dir, "customer")
    log = _changelog(c)
    stream_dir = tmp_path / "cdc_stream"
    stream_dir.mkdir()
    # one file per seq epoch, named + mtime-ordered so the file source
    # delivers the changelog in order with maxFilesPerTrigger=1
    for s in (1, 2, 3):
        staging = tmp_path / f"stage_{s}"
        log.filter(F.col("seq") == s).coalesce(1).write.parquet(str(staging))
        part = next(Path(staging).glob("part-*.parquet"))
        shutil.move(str(part), str(stream_dir / f"{s:03d}.parquet"))
    changes = (
        spark.readStream.schema(log.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    q = stream_cdc_apply(
        changes, c, key="c_custkey", seq_col="seq", state_view="cdc_state_t"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        tuple(r) for r in
        spark.table("global_temp.cdc_state_t")
        .filter(~F.col("__deleted"))
        .drop("__seq", "__deleted")
        .collect()
    )
    want = sorted(tuple(r) for r in q_cdc_apply(spark, sf_dir).collect())
    assert got and got == want


def test_stream_topk_matches_batch(spark, sf_dir):
    """O(K)-state top-K maintenance over the stream equals the batch
    top-K over the same documents."""
    from locopy_spark.streaming.jobs import read_document_stream
    from locopy_spark.streaming.stateful import stream_topk

    score = F.expr(
        "CAST(size(filter(split(lower(trim(text)), '\\\\s+'),"
        " t -> t IN ('the', 'and', 'is', 'to', 'of', 'a', 'in', 'that',"
        " 'it', 'on', 'for'))) AS DOUBLE) / size(split(lower(trim(text)), '\\\\s+'))"
    )
    stream = read_document_stream(spark, sf_dir)
    q = stream_topk(stream, score, k=25, state_view="topk_state_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        (r.doc_id, r.score)
        for r in spark.table("global_temp.topk_state_t")
        .orderBy(F.col("score").desc(), "doc_id")
        .collect()
    ]
    from locopy_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    want = [
        (r.doc_id, r.score)
        for r in docs.select("doc_id", score.alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(25)
        .collect()
    ]
    assert got and got == want


def test_stream_profile_matches_batch(spark, sf_dir):
    """The additively-merged streaming profile equals the batch
    aggregate — every metric is a commutative monoid, so arrival
    order and batching cannot change the result."""
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.jobs import read_document_stream
    from locopy_spark.streaming.stateful import stream_profile

    stream = read_document_stream(spark, sf_dir)
    q = stream_profile(stream, state_view="profile_state_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("global_temp.profile_state_t").collect()
    assert len(got) == 1
    docs = load_table(spark, sf_dir, "documents")
    want = docs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("COUNT(*) - COUNT(text)").alias("n_null_text"),
        F.min("doc_id"), F.max("doc_id"),
        F.min("n_chars"), F.max("n_chars"),
    ).collect()
    assert tuple(got[0]) == tuple(want[0])


def test_stream_cdc_apply_out_of_order_delete_sticks(spark, sf_dir, tmp_path):
    """A stale pre-delete change arriving AFTER the delete must not
    resurrect the key: the tombstone retains the applied sequence."""
    import shutil
    from pathlib import Path

    from locopy_spark.streaming.stateful import stream_cdc_apply

    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k long, name string, val double"
    )
    log_schema = "k long, op string, seq long, name string, val double"
    # file 001: delete k=1 at seq 5; file 002: STALE update at seq 3
    batches = [
        [(1, "D", 5, None, None)],
        [(1, "U", 3, "stale", 99.0)],
    ]
    stream_dir = tmp_path / "ooo_cdc"
    stream_dir.mkdir()
    for i, rows in enumerate(batches, 1):
        staging = tmp_path / f"ooo_stage_{i}"
        spark.createDataFrame(rows, log_schema).coalesce(1).write.parquet(
            str(staging)
        )
        part = next(Path(staging).glob("part-*.parquet"))
        shutil.move(str(part), str(stream_dir / f"{i:03d}.parquet"))
    changes = (
        spark.readStream.schema(log_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    q = stream_cdc_apply(
        changes, snap, key="k", seq_col="seq", state_view="cdc_ooo_t"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    live = {
        r.k: (r.name, r.val)
        for r in spark.table("global_temp.cdc_ooo_t")
        .filter(~F.col("__deleted"))
        .collect()
    }
    assert live == {2: ("b", 20.0)}  # k=1 stays deleted


def test_stream_daily_anomaly_matches_batch(spark, sf_dir):
    """The additively-merged daily series (and its trailing-window
    z-scores) equals the batch aggregate over the same events —
    per-day sums are commutative monoids, so batching cannot change
    the series, and both sides share ONE scorer."""
    from locopy_spark.functions.numeric import sql_epoch_day
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.jobs import read_event_stream
    from locopy_spark.streaming.stateful import (
        score_daily_anomalies,
        stream_daily_anomaly,
    )

    stream = read_event_stream(spark, sf_dir)
    q = stream_daily_anomaly(stream, state_view="daily_anomaly_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in score_daily_anomalies(
            spark.table("global_temp.daily_anomaly_t")
        ).orderBy("day").collect()
    ]
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr(sql_epoch_day(ev, "ts")).alias("day")
    ).agg(
        F.sum(
            F.expr("cast(floor(value * 1000 + 0.5) as bigint)")
        ).alias("x_fix")
    )
    want = [
        tuple(r)
        for r in score_daily_anomalies(daily).orderBy("day").collect()
    ]
    assert got and got == want


def test_stream_kmv_sketch_matches_batch(spark, sf_dir, tmp_path):
    """KMV merge is a commutative idempotent monoid, so the sketch
    maintained across 4 out-of-order micro-batches equals the batch
    operator over the full corpus — exact array equality."""
    from locopy_spark.functions.text import shingles_expr, tokens_expr
    from locopy_spark.operators.sketches import kmv_sketch
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_kmv_sketch

    docs = load_table(spark, sf_dir, "documents")
    # 4 chunks, written out of doc_id order to exercise order-invariance
    for i, pred in enumerate(["3", "1", "0", "2"]):
        docs.filter(f"pmod(doc_id, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"chunk{i}"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "chunk*"))
    )
    q = stream_kmv_sketch(stream, k=64, state_view="kmv_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.source: list(r.kmv)
        for r in spark.table("global_temp.kmv_t").collect()
    }
    sh = docs.select(
        "source", F.expr(tokens_expr("text")).alias("toks")
    ).select("source", F.explode(F.expr(shingles_expr("toks", 3))).alias("sh"))
    want = {
        r.source: list(r.kmv)
        for r in kmv_sketch(sh, "source", "sh", k=64).collect()
    }
    assert got and got == want


def test_stream_quantiles_matches_batch(spark, sf_dir):
    """The additively-merged histogram state yields the same quantiles
    as the batch binning over the full events table, and each quantile
    brackets the exact percentile within one bin width."""
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.jobs import read_event_stream
    from locopy_spark.streaming.stateful import (
        binned_counts,
        histogram_quantiles,
        stream_quantiles,
    )

    q = stream_quantiles(
        read_event_stream(spark, sf_dir), state_view="qh_t"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.p: (r.q_upper, r.total)
        for r in histogram_quantiles(spark.table("global_temp.qh_t")).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    want = {
        r.p: (r.q_upper, r.total)
        for r in histogram_quantiles(binned_counts(ev)).collect()
    }
    assert got and got == want
    exact = ev.selectExpr(
        "percentile(value, array(0.5, 0.9, 0.99)) as qs"
    ).collect()[0].qs
    for p, x in zip((0.5, 0.9, 0.99), exact):
        assert abs(got[p][0] - x) <= 0.5 + 1e-9  # one bin width


def test_binned_counts_negative_values(spark):
    """Floor division (not `div` truncation): negative values must get
    uniform-width bins so the one-bin-width quantile bound holds."""
    from locopy_spark.streaming.stateful import binned_counts

    df = spark.createDataFrame(
        [(-0.7,), (-0.3,), (0.3,), (0.7,)], "value double"
    )
    got = {r.bin: r.n for r in binned_counts(df).collect()}
    # width 0.5: -0.7 -> bin -2, -0.3 -> bin -1, 0.3 -> bin 0, 0.7 -> bin 1
    assert got == {-2: 1, -1: 1, 0: 1, 1: 1}


def test_stream_triangle_count_matches_batch(spark, sf_dir, tmp_path):
    """Count-at-last-edge: the incrementally-maintained triangle count
    over 4 out-of-order edge chunks equals the batch census on the
    full edge set (every triangle has exactly one last edge)."""
    from locopy_spark.functions.cache import managed_persist
    from locopy_spark.operators.graph import triangle_census
    from locopy_spark.queries.mining import copurchase_edges
    from locopy_spark.streaming.stateful import stream_triangle_count

    e = managed_persist(copurchase_edges(spark, sf_dir), "tri_stream_test")
    want = triangle_census(e).collect()[0].n_triangles
    for i, pred in enumerate(["2", "0", "3", "1"]):
        e.filter(f"pmod(a + b, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"echunk{i}"))
    stream = (
        spark.readStream.schema("a long, b long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "echunk*"))
    )
    q = stream_triangle_count(stream, state_view="tri_s", count_view="tri_c")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("global_temp.tri_c").collect()[0].n_triangles
    assert got == want and want > 0
    # second read over the SAME maintained edge state: the local
    # clustering-coefficient profile closes on demand via edges=
    from locopy_spark.queries.mining import q_clustering_coef

    got_cc = [
        tuple(r)
        for r in q_clustering_coef(
            spark, sf_dir, edges=spark.table("global_temp.tri_s")
        ).collect()
    ]
    want_cc = [tuple(r) for r in q_clustering_coef(spark, sf_dir).collect()]
    assert got_cc and got_cc == want_cc
    # third read over the SAME edge state: Jaccard link prediction
    from locopy_spark.queries.mining import q_jaccard_links

    got_j = [
        tuple(r)
        for r in q_jaccard_links(
            spark, sf_dir, edges=spark.table("global_temp.tri_s")
        ).collect()
    ]
    want_j = [tuple(r) for r in q_jaccard_links(spark, sf_dir).collect()]
    assert got_j and got_j == want_j


def test_stream_fertility_matches_batch(spark, sf_dir, tmp_path):
    """Per-(source,lang) fertility counts are an additive monoid, so
    the state maintained across 4 out-of-order micro-batches + the
    shared ratio finisher equals batch p_tokenizer_fertility exactly."""
    from locopy_spark.queries.corpus import (
        fertility_report,
        p_tokenizer_fertility,
    )
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_fertility

    docs = load_table(spark, sf_dir, "documents")
    for i, pred in enumerate(["2", "0", "3", "1"]):
        docs.filter(f"pmod(doc_id, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"fchunk{i}"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "fchunk*"))
    )
    q = stream_fertility(stream, state_view="fertility_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in fertility_report(
            spark.table("global_temp.fertility_t")
        ).collect()
    ]
    want = [tuple(r) for r in p_tokenizer_fertility(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_length_histogram_matches_batch(spark, sf_dir, tmp_path):
    """Per-bin histogram counts merge additively, so stream state +
    the shared cumulative finisher equals batch p_length_histogram on
    any batching/order."""
    from locopy_spark.queries.corpus import length_report, p_length_histogram
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_length_histogram

    docs = load_table(spark, sf_dir, "documents")
    for i, pred in enumerate(["1", "3", "0", "2"]):
        docs.filter(f"pmod(doc_id, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"lchunk{i}"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "lchunk*"))
    )
    q = stream_length_histogram(stream, state_view="length_hist_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in length_report(
            spark.table("global_temp.length_hist_t")
        ).collect()
    ]
    want = [tuple(r) for r in p_length_histogram(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_bloom_matches_batch(spark, sf_dir, tmp_path):
    """Bit-set union is a commutative idempotent monoid: the filter
    maintained across 4 out-of-order micro-batches (with overlapping
    keys) equals the batch build's set-bit table exactly."""
    from locopy_spark.queries.tpch_ext import _bloom_pos_spark
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_bloom

    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    for i, pred in enumerate(["3", "0", "2", "1"]):
        # modulo split of ORDERS (not keys): the same custkey lands in
        # several chunks, exercising the idempotent merge
        orders.filter(f"pmod(o_custkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"bchunk{i}"))
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "bchunk*"))
    )
    q = stream_bloom(stream, state_view="bloom_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.pos for r in spark.table("global_temp.bloom_t").collect()
    }
    want = {
        r.pos
        for r in orders.select("o_custkey")
        .distinct()
        .select(F.explode(F.expr(_bloom_pos_spark("o_custkey"))).alias("pos"))
        .distinct()
        .collect()
    }
    assert got and got == want


def test_stream_ols_trend_matches_batch(spark, sf_dir, tmp_path):
    """The per-(priority, day) cent state is additive in y, so the
    state maintained across 4 out-of-order micro-batches + the shared
    power-sum/formula finisher equals batch q_ols_trend exactly."""
    from locopy_spark.queries.trends import ols_report, q_ols_trend
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_ols_trend

    orders = load_table(spark, sf_dir, "orders")
    for i, pred in enumerate(["3", "1", "0", "2"]):
        orders.filter(f"pmod(o_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"ochunk{i}"))
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "ochunk*"))
    )
    q = stream_ols_trend(stream, state_view="ols_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in ols_report(spark.table("global_temp.ols_t")).collect()
    ]
    want = [tuple(r) for r in q_ols_trend(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_benford_matches_batch(spark, sf_dir, tmp_path):
    """Per-(segment, digit) counts merge additively across the
    stream-static customer join, so stream state + the ppm/chi²
    finisher equals batch q_benford on any batching/order."""
    from locopy_spark.queries.trends import benford_report, q_benford
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_benford

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    for i, pred in enumerate(["2", "0", "3", "1"]):
        orders.filter(f"pmod(o_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"bchunk{i}"))
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "bchunk*"))
    )
    q = stream_benford(stream, customer, state_view="benford_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in benford_report(
            spark.table("global_temp.benford_t")
        ).collect()
    ]
    want = [tuple(r) for r in q_benford(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_acf_matches_batch(spark, sf_dir):
    """ACF over the additively maintained daily series equals the
    batch scorer over the same events — same maintainer as the
    anomaly state, one shared scorer (acf_over_daily)."""
    from locopy_spark.functions.numeric import sql_epoch_day
    from locopy_spark.queries.stats import acf_over_daily
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.jobs import read_event_stream
    from locopy_spark.streaming.stateful import score_daily_acf, stream_acf

    stream = read_event_stream(spark, sf_dir)
    q = stream_acf(stream, state_view="acf_state_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in score_daily_acf(spark.table("global_temp.acf_state_t"))
        .orderBy("lag")
        .collect()
    ]
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr(sql_epoch_day(ev, "ts")).alias("day")
    ).agg(
        F.sum(F.expr("cast(floor(value * 1000 + 0.5) as bigint)")).alias("x")
    )
    want = [tuple(r) for r in acf_over_daily(daily).orderBy("lag").collect()]
    assert got and got == want


def test_stream_weekday_uplift_matches_batch(spark, sf_dir, tmp_path):
    """The 7-row per-DOW state merges additively, so stream state +
    the shared uplift finisher equals batch q_weekday_uplift on any
    batching/order."""
    from locopy_spark.queries.tpch_ext import q_weekday_uplift, weekday_report
    from locopy_spark.streaming.stateful import stream_weekday_uplift

    orders = load_table(spark, sf_dir, "orders")
    for i, pred in enumerate(["1", "3", "0", "2"]):
        orders.filter(f"pmod(o_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"wchunk{i}"))
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "wchunk*"))
    )
    q = stream_weekday_uplift(stream, state_view="weekday_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in weekday_report(
            spark.table("global_temp.weekday_t")
        ).collect()
    ]
    want = [tuple(r) for r in q_weekday_uplift(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_vocab_matches_batch(spark, sf_dir, tmp_path):
    """Token counts merge additively across 4 out-of-order doc
    chunks; stream state + the shared Zipf-head finisher equals batch
    p_vocab_coverage exactly."""
    from locopy_spark.queries.corpus import (
        p_vocab_coverage,
        vocab_coverage_report,
    )
    from locopy_spark.streaming.stateful import stream_vocab

    docs = load_table(spark, sf_dir, "documents")
    for i, pred in enumerate(["2", "0", "3", "1"]):
        docs.filter(f"pmod(doc_id, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"vchunk{i}"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "vchunk*"))
    )
    q = stream_vocab(stream, state_view="vocab_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in vocab_coverage_report(
            spark.table("global_temp.vocab_t")
        ).collect()
    ]
    want = [tuple(r) for r in p_vocab_coverage(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_xcorr_matches_batch(spark, sf_dir, tmp_path):
    """Per-(hour, side) counts merge additively; stream state + the
    shared dense-fill/lag-moment finisher equals batch q_xcorr on 4
    out-of-order event chunks."""
    from locopy_spark.queries.events_ext import q_xcorr, xcorr_report
    from locopy_spark.streaming.stateful import stream_xcorr

    ev = load_table(spark, sf_dir, "events")
    for i, pred in enumerate(["3", "0", "2", "1"]):
        ev.filter(f"pmod(event_id, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"xchunk{i}"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "xchunk*"))
    )
    q = stream_xcorr(stream, state_view="xcorr_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in xcorr_report(spark.table("global_temp.xcorr_t")).collect()
    ]
    want = [tuple(r) for r in q_xcorr(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_cramers_matches_batch(spark, sf_dir, tmp_path):
    """Contingency cells merge additively across the stream-static
    customer join, so stream state + the shared chi²/V finisher
    equals batch q_cramers_v on any batching/order."""
    from locopy_spark.queries.assoc import cramers_report, q_cramers_v
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_cramers

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    for i, pred in enumerate(["2", "0", "3", "1"]):
        orders.filter(f"pmod(o_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"cvchunk{i}"))
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "cvchunk*"))
    )
    q = stream_cramers(stream, customer, state_view="cramers_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in cramers_report(
            spark.table("global_temp.cramers_t")
        ).collect()
    ]
    want = [tuple(r) for r in q_cramers_v(spark, sf_dir).collect()]
    assert got and got == want
    # second finisher over the SAME state (the stream_simpson
    # convention: one state, every finisher asserted): Goodman–Kruskal
    # λ closes from the identical contingency cells
    from locopy_spark.queries.assoc import lambda_report, q_goodman_lambda

    got_l = [
        tuple(r)
        for r in lambda_report(
            spark.table("global_temp.cramers_t")
        ).collect()
    ]
    want_l = [tuple(r) for r in q_goodman_lambda(spark, sf_dir).collect()]
    assert got_l and got_l == want_l


def test_stream_hhi_matches_batch(spark, sf_dir, tmp_path):
    """Per-(nation, supplier) revenue cents merge additively across 4
    out-of-order lineitem chunks; stream state + the shared HHI
    finisher equals batch q_hhi exactly."""
    from locopy_spark.queries.assoc import hhi_report, q_hhi
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_hhi

    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    for i, pred in enumerate(["3", "1", "0", "2"]):
        li.filter(f"pmod(l_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"hchunk{i}"))
    stream = (
        spark.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "hchunk*"))
    )
    q = stream_hhi(stream, supplier, nation, state_view="hhi_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in hhi_report(spark.table("global_temp.hhi_t")).collect()
    ]
    want = [tuple(r) for r in q_hhi(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_mann_kendall_matches_batch(spark, sf_dir):
    """The MK trend verdict over the additively maintained daily
    series equals the batch scorer over the same events — the third
    scorer sharing the daily-anomaly state layout."""
    from locopy_spark.functions.numeric import sql_epoch_day
    from locopy_spark.queries.assoc import mk_over_daily
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.jobs import read_event_stream
    from locopy_spark.streaming.stateful import (
        score_daily_mk,
        stream_mann_kendall,
    )

    stream = read_event_stream(spark, sf_dir)
    q = stream_mann_kendall(stream, state_view="mk_state_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in score_daily_mk(
            spark.table("global_temp.mk_state_t")
        ).collect()
    ]
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr(sql_epoch_day(ev, "ts")).alias("day")
    ).agg(
        F.sum(F.expr("cast(floor(value * 1000 + 0.5) as bigint)")).alias("x")
    )
    want = [tuple(r) for r in mk_over_daily(daily).collect()]
    assert got and got == want


def test_stream_seasonal_matches_batch(spark, sf_dir):
    """The seasonal profile over the additively maintained daily
    series equals the batch scorer over the same events — fourth
    scorer on the shared daily-state layout."""
    from locopy_spark.functions.numeric import sql_epoch_day
    from locopy_spark.queries.trends import seasonal_over_daily
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.jobs import read_event_stream
    from locopy_spark.streaming.stateful import (
        score_daily_seasonal,
        stream_seasonal,
    )

    stream = read_event_stream(spark, sf_dir)
    q = stream_seasonal(stream, state_view="seasonal_state_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in score_daily_seasonal(
            spark.table("global_temp.seasonal_state_t")
        ).collect()
    ]
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr(sql_epoch_day(ev, "ts")).alias("day")
    ).agg(
        F.sum(F.expr("cast(floor(value * 1000 + 0.5) as bigint)")).alias("x")
    )
    want = [tuple(r) for r in seasonal_over_daily(daily).collect()]
    assert got and got == want


def test_stream_boilerplate_matches_batch(spark, sf_dir, tmp_path):
    """The (source, doc, span) inverted index is a set and the doc
    counts are additive over never-seen docs, so stream state + the
    shared finisher equals batch t_boilerplate even when chunks
    OVERLAP (doc re-delivery must not double-count)."""
    from locopy_spark.queries.docs_ext import boiler_report, t_boilerplate
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_boilerplate

    docs = load_table(spark, sf_dir, "documents")
    # overlapping chunks: doc_id % 4 in {p, p+1 mod 4} — every doc is
    # delivered exactly twice, out of order
    for i, p in enumerate([2, 0, 3, 1]):
        docs.filter(
            f"pmod(doc_id, 4) in ({p}, {(p + 1) % 4})"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"boilchunk{i}")
        )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "boilchunk*"))
    )
    q = stream_boilerplate(
        stream, span_view="boiler_span_t", count_view="boiler_count_t"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in boiler_report(
            spark.table("global_temp.boiler_span_t"),
            spark.table("global_temp.boiler_count_t"),
        )
        .orderBy("source")
        .collect()
    ]
    want = [tuple(r) for r in t_boilerplate(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_lexical_index_matches_batch_prf(spark, sf_dir, tmp_path):
    """The postings state is a set and the doc count is additive over
    never-seen docs, so on-demand scoring from the streamed index
    (shared lexical_from_postings + prf_report finishers) equals
    batch s_prf_expand even with OVERLAPPING out-of-order chunks."""
    from locopy_spark.queries.docs import KNN_QUERY_IDS
    from locopy_spark.queries.docs_ext import (
        PRF_FB,
        lexical_from_postings,
        prf_report,
        s_prf_expand,
    )
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_lexical_index

    docs = load_table(spark, sf_dir, "documents")
    for i, p in enumerate([1, 3, 0, 2]):
        docs.filter(
            f"pmod(doc_id, 4) in ({p}, {(p + 2) % 4})"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"lexchunk{i}")
        )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "lexchunk*"))
    )
    q = stream_lexical_index(
        stream, tok_view="lex_tok_t", count_view="lex_count_t"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    t = lexical_from_postings(
        spark.table("global_temp.lex_tok_t"),
        spark.table("global_temp.lex_count_t"),
        KNN_QUERY_IDS,
        PRF_FB,
    )
    got = [tuple(r) for r in prf_report(t).collect()]
    want = [tuple(r) for r in s_prf_expand(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_co_engagement_matches_batch(spark, sf_dir, tmp_path):
    """(user, week, type) is a set, so stream state + the shared
    lift finisher equals batch q_co_engagement on out-of-order
    chunks with re-delivered rows."""
    from locopy_spark.queries.events_ext import (
        co_engagement_report,
        q_co_engagement,
    )
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_co_engagement

    ev = load_table(spark, sf_dir, "events")
    for i, p in enumerate([2, 0, 3, 1]):
        ev.filter(
            f"pmod(event_id, 4) in ({p}, {(p + 1) % 4})"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"cechunk{i}")
        )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "cechunk*"))
    )
    q = stream_co_engagement(stream, state_view="coeng_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in co_engagement_report(spark.table("global_temp.coeng_t"))
        .orderBy("a", "b")
        .collect()
    ]
    want = [tuple(r) for r in q_co_engagement(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_dedup_yield_matches_batch(spark, sf_dir, tmp_path):
    """The fingerprint table is the honest state (late-arriving
    smaller ids change keepers), so stream state + the shared
    resolution finisher equals batch p_dedup_yield on OVERLAPPING
    out-of-order chunks — including keeper flips across chunks."""
    from locopy_spark.queries.corpus import dedup_yield_report, p_dedup_yield
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_dedup_yield

    docs = load_table(spark, sf_dir, "documents")
    # reversed order: high doc_ids first, so keepers flip as smaller
    # ids arrive in later chunks; each chunk also repeats a few docs
    # WITHIN itself (same-batch re-delivery — the case the cross-batch
    # seen anti-join cannot catch)
    for i, p in enumerate([3, 2, 1, 0]):
        chunk = docs.filter(f"pmod(doc_id, 4) in ({p}, {(p + 1) % 4})")
        chunk.unionAll(chunk.limit(5)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"dychunk{i}"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "dychunk*"))
    )
    q = stream_dedup_yield(stream, state_view="dedup_yield_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in dedup_yield_report(
            spark.table("global_temp.dedup_yield_t")
        )
        .orderBy("source")
        .collect()
    ]
    want = [tuple(r) for r in p_dedup_yield(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_ca_trend_matches_batch(spark, sf_dir, tmp_path):
    """Per-day (trials, purchases) counters are additive monoids, so
    the state maintained across 4 out-of-order micro-batches + the
    shared z/verdict finisher equals batch q_cochran_armitage
    exactly."""
    from locopy_spark.queries.trends import ca_report, q_cochran_armitage
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_ca_trend

    events = load_table(spark, sf_dir, "events")
    for i, pred in enumerate(["3", "1", "0", "2"]):
        events.filter(f"pmod(event_id, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"cachunk{i}"))
    stream = (
        spark.readStream.schema(
            spark.read.parquet(str(tmp_path / "cachunk0")).schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "cachunk*"))
    )
    q = stream_ca_trend(stream, state_view="ca_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in ca_report(spark.table("global_temp.ca_t")).collect()
    ]
    want = [tuple(r) for r in q_cochran_armitage(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_filter_funnel_matches_batch(spark, sf_dir, tmp_path):
    """The 10-counter cumulative-gate state is a pure additive
    monoid, so the 1-row state summed across 4 out-of-order
    micro-batches + the shared unpivot finisher equals batch
    p_filter_funnel exactly."""
    from locopy_spark.queries.quality import funnel_report, p_filter_funnel
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_filter_funnel

    docs = load_table(spark, sf_dir, "documents")
    for i, pred in enumerate(["1", "3", "2", "0"]):
        docs.filter(f"pmod(doc_id, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"ffchunk{i}"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "ffchunk*"))
    )
    q = stream_filter_funnel(stream, state_view="funnel_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in funnel_report(
            spark.table("global_temp.funnel_t")
        ).collect()
    ]
    want = [tuple(r) for r in p_filter_funnel(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_centroids_matches_batch(spark, sf_dir, tmp_path):
    """(label, dim) exact component sums + counts are additive
    monoids, so the state maintained across 4 out-of-order
    micro-batches + the shared mean finisher equals batch
    d_embedding_centroids exactly (float-equal: same double close
    over identical exact sums)."""
    from locopy_spark.queries.docs_ext import (
        centroid_report,
        d_embedding_centroids,
    )
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    for i, pred in enumerate(["2", "0", "3", "1"]):
        emb.filter(f"pmod(vec_id, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"cchunk{i}"))
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "cchunk*"))
    )
    q = stream_centroids(stream, state_view="centroid_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in centroid_report(
            spark.table("global_temp.centroid_t")
        ).collect()
    ]
    want = [tuple(r) for r in d_embedding_centroids(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_mix_drift_matches_batch(spark, sf_dir, tmp_path):
    """|months × priorities| cell counts are additive monoids, so the
    state maintained across 4 out-of-order micro-batches + the shared
    grid/chi² finisher equals batch q_mix_drift exactly."""
    from locopy_spark.queries.trends import mix_report, q_mix_drift
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_mix_drift

    orders = load_table(spark, sf_dir, "orders")
    for i, pred in enumerate(["1", "3", "0", "2"]):
        orders.filter(f"pmod(o_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"mchunk{i}"))
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "mchunk*"))
    )
    q = stream_mix_drift(stream, state_view="mix_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in mix_report(spark.table("global_temp.mix_t")).collect()
    ]
    want = [tuple(r) for r in q_mix_drift(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_cms_matches_batch(spark, sf_dir, tmp_path):
    """CMS cells are exact occurrence sums (additive monoid), so the
    d×w state maintained across 4 out-of-order micro-batches equals
    the batch sketch exactly, and probing it through the shared
    cms_estimate finisher reproduces batch t_cms_counts."""
    from locopy_spark.functions.text import tokens_expr
    from locopy_spark.queries.corpus import (
        CMS_PROBE_K,
        cms_cells,
        cms_estimate,
        t_cms_counts,
    )
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_cms

    docs = load_table(spark, sf_dir, "documents")
    for i, pred in enumerate(["2", "0", "3", "1"]):
        docs.filter(f"pmod(doc_id, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"cmschunk{i}"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "cmschunk*"))
    )
    q = stream_cms(stream, state_view="cms_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    state = spark.table("global_temp.cms_t")
    got_cells = {(r.r, r.col): r.v for r in state.collect()}
    want_cells = {(r.r, r.col): r.v for r in cms_cells(docs).collect()}
    assert got_cells and got_cells == want_cells
    vocab = (
        docs.select(F.explode(F.expr(tokens_expr("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    probes = (
        vocab.orderBy(F.desc("c"), "token")
        .limit(CMS_PROBE_K)
        .select("token", F.col("c").alias("true_c"))
    )
    got = [tuple(r) for r in cms_estimate(state, probes).collect()]
    want = [tuple(r) for r in t_cms_counts(spark, sf_dir).collect()]
    assert got == want


def test_stream_user_totals_tws_matches_batch_and_v1(spark, sf_dir):
    """The transformWithStateInPandas form (typed ValueState over the
    RocksDB provider) computes the same exact totals as the
    applyInPandasWithState form and the batch aggregate.  Where the
    state-v2 protobuf dependency is absent (this container), the job
    must fail LOUD with the dependency named — the spark-avro
    convention — and the parity assertion is skipped."""
    import pytest

    from locopy_spark.streaming.jobs import read_event_stream, run_to_memory
    from locopy_spark.streaming.stateful import stream_user_totals_tws

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="protobuf"):
            stream_user_totals_tws(read_event_stream(spark, sf_dir))
        pytest.skip("protobuf not installed: state-v2 parity not runnable here")

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = read_event_stream(spark, sf_dir)
        run_to_memory(
            stream_user_totals_tws(stream), "totals_tws_out", mode="update"
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    got = {
        r.user_id: (r.n_events, r.sum_value_fix)
        for r in spark.sql("SELECT * FROM totals_tws_out").collect()
    }
    assert got, "transformWithState produced no rows"
    batch = {
        r.user_id: (r.n, r.s_fix)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.expr("cast(floor(value * 1000 + 0.5) as bigint)")
            ).alias("s_fix"),
        )
        .collect()
    }
    assert got == batch


def test_stream_simpson_matches_batch(spark, sf_dir, tmp_path):
    """Per-(source, token) counts merge additively across 4
    out-of-order doc chunks; ONE stream state feeds BOTH shared
    finishers (three after hapax_report), and each equals its batch
    twin exactly (t_simpson_diversity, t_zipf_deviation,
    t_hapax_ratio)."""
    from locopy_spark.queries.corpus import (
        hapax_report,
        simpson_report,
        t_hapax_ratio,
        t_simpson_diversity,
        t_zipf_deviation,
        zipf_report,
    )
    from locopy_spark.streaming.stateful import stream_simpson

    docs = load_table(spark, sf_dir, "documents")
    for i, pred in enumerate(["1", "3", "0", "2"]):
        docs.filter(f"pmod(doc_id, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"schunk{i}"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "schunk*"))
    )
    q = stream_simpson(stream, state_view="simpson_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    state = spark.table("global_temp.simpson_t")
    got_s = [tuple(r) for r in simpson_report(state).collect()]
    want_s = [tuple(r) for r in t_simpson_diversity(spark, sf_dir).collect()]
    assert got_s and got_s == want_s
    got_z = [tuple(r) for r in zipf_report(state).collect()]
    want_z = [tuple(r) for r in t_zipf_deviation(spark, sf_dir).collect()]
    assert got_z and got_z == want_z
    got_h = [tuple(r) for r in hapax_report(state).collect()]
    want_h = [tuple(r) for r in t_hapax_ratio(spark, sf_dir).collect()]
    assert got_h and got_h == want_h
    # fourth finisher on the same state: the source-overlap matrix
    from locopy_spark.queries.corpus import (
        source_overlap_report,
        t_source_overlap,
    )

    got_o = [tuple(r) for r in source_overlap_report(state).collect()]
    want_o = [tuple(r) for r in t_source_overlap(spark, sf_dir).collect()]
    assert got_o and got_o == want_o


def test_stream_norm_hist_matches_batch(spark, sf_dir, tmp_path):
    """Per-band counts merge additively across 4 out-of-order vector
    chunks; stream state == batch d_norm_histogram exactly."""
    from locopy_spark.streaming.stateful import stream_norm_hist
    from locopy_spark.queries.docs_ext import d_norm_histogram

    emb = load_table(spark, sf_dir, "embeddings")
    for i, pred in enumerate(["2", "0", "3", "1"]):
        emb.filter(f"pmod(vec_id, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"nchunk{i}"))
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "nchunk*"))
    )
    q = stream_norm_hist(stream, state_view="norm_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in spark.table("global_temp.norm_t").orderBy("band").collect()
    ]
    want = [tuple(r) for r in d_norm_histogram(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_heatmap_matches_batch(spark, sf_dir, tmp_path):
    """Per-cell counts merge additively across 4 out-of-order event
    chunks; stream state + zero-fill finisher == batch
    q_calendar_heatmap exactly."""
    from locopy_spark.queries.timeseries import (
        heat_report,
        q_calendar_heatmap,
    )
    from locopy_spark.streaming.stateful import stream_heatmap

    ev = load_table(spark, sf_dir, "events")
    for i, pred in enumerate(["3", "1", "0", "2"]):
        ev.filter(f"pmod(event_id, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"hchunk{i}"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "hchunk*"))
    )
    q = stream_heatmap(stream, state_view="heat_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in heat_report(spark.table("global_temp.heat_t")).collect()
    ]
    want = [tuple(r) for r in q_calendar_heatmap(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_dormancy_matches_batch(spark, sf_dir, tmp_path):
    """Per-user last-day state merges as a MAX monoid across 4
    out-of-order event chunks (later chunks carry EARLIER events);
    stream state + horizon finisher == batch q_dormancy_curve."""
    from locopy_spark.queries.timeseries import (
        dormancy_report,
        q_dormancy_curve,
    )
    from locopy_spark.streaming.stateful import stream_dormancy

    ev = load_table(spark, sf_dir, "events")
    for i, pred in enumerate(["0", "2", "1", "3"]):
        ev.filter(f"pmod(event_id, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"dchunk{i}"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "dchunk*"))
    )
    q = stream_dormancy(stream, state_view="dorm_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in dormancy_report(
            spark.table("global_temp.dorm_t")
        ).collect()
    ]
    want = [tuple(r) for r in q_dormancy_curve(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_centroid_purity_matches_batch(spark, sf_dir, tmp_path):
    """(label, dim) purity-quantized sums + counts are additive
    monoids, so the state maintained across 4 out-of-order
    micro-batches + the purity finisher over the accumulated corpus
    equals batch s_centroid_purity bit-exactly (integer/decimal
    arithmetic end-to-end — no float close at all)."""
    from locopy_spark.queries.docs_ext import purity_report, s_centroid_purity
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_centroid_purity

    emb = load_table(spark, sf_dir, "embeddings")
    for i, pred in enumerate(["3", "1", "2", "0"]):
        emb.filter(f"pmod(vec_id, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"pchunk{i}"))
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "pchunk*"))
    )
    q = stream_centroid_purity(stream, state_view="purity_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in purity_report(
            emb, spark.table("global_temp.purity_t")
        ).collect()
    ]
    want = [tuple(r) for r in s_centroid_purity(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_anova_matches_batch(spark, sf_dir, tmp_path):
    """The 1-row ANOVA state is an additive monoid (row-local per
    order — no cross-batch dependency), so the state maintained across
    4 out-of-order micro-batches + the F finisher equals batch q_anova
    exactly (same fixed-order double chain over identical sums)."""
    from locopy_spark.queries.stats import anova_report, q_anova
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_anova

    o = load_table(spark, sf_dir, "orders")
    for i, pred in enumerate(["1", "3", "0", "2"]):
        o.filter(f"pmod(o_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"achunk{i}"))
    stream = (
        spark.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "achunk*"))
    )
    q = stream_anova(stream, state_view="anova_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in anova_report(spark.table("global_temp.anova_t")).collect()
    ]
    want = [tuple(r) for r in q_anova(spark, sf_dir).collect()]
    assert got and got == want
    # second finisher over the SAME live state: the Bonferroni
    # pairwise panel (q_posthoc_pairs) — one state, an omnibus F AND
    # the which-pairs-differ read
    from locopy_spark.queries.stats import posthoc_report, q_posthoc_pairs

    got_ph = [
        tuple(r)
        for r in posthoc_report(spark.table("global_temp.anova_t")).collect()
    ]
    want_ph = [tuple(r) for r in q_posthoc_pairs(spark, sf_dir).collect()]
    assert got_ph and got_ph == want_ph


def test_stream_backlog_matches_batch(spark, sf_dir, tmp_path):
    """(status, order-day) counts + scaled value are additive monoids;
    banding happens only in the finisher against the batch horizon, so
    the state maintained across 4 out-of-order micro-batches + the
    aging finisher equals batch q_backlog_aging exactly."""
    from locopy_spark.queries.tpch_ext import backlog_report, q_backlog_aging
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_backlog

    o = load_table(spark, sf_dir, "orders")
    for i, pred in enumerate(["2", "0", "3", "1"]):
        o.filter(f"pmod(o_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"bchunk{i}"))
    stream = (
        spark.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "bchunk*"))
    )
    q = stream_backlog(stream, state_view="backlog_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in backlog_report(
            spark.table("global_temp.backlog_t"), horizon_from=o
        ).collect()
    ]
    want = [tuple(r) for r in q_backlog_aging(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_survival_matches_both_batch_estimators(spark, sf_dir, tmp_path):
    """Per-customer (first_d MIN, last_d MAX) spans are a monoid, so
    the state maintained across 4 out-of-order micro-batches + the
    at-risk finisher feeds BOTH survival estimators to bit-exact
    equality with their batch queries (the stream_simpson convention:
    one state, every finisher asserted)."""
    from locopy_spark.queries.assoc import (
        km_from_risk,
        lifetime_risk_report,
        na_from_risk,
        q_kaplan_meier,
        q_nelson_aalen,
    )
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_survival

    o = load_table(spark, sf_dir, "orders")
    for i, pred in enumerate(["1", "2", "0", "3"]):
        o.filter(f"pmod(o_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"schunk{i}"))
    stream = (
        spark.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "schunk*"))
    )
    q = stream_survival(stream, state_view="span_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    risk = lifetime_risk_report(spark.table("global_temp.span_t"))
    got_km = [tuple(r) for r in km_from_risk(risk).collect()]
    want_km = [tuple(r) for r in q_kaplan_meier(spark, sf_dir).collect()]
    assert got_km and got_km == want_km
    got_na = [tuple(r) for r in na_from_risk(risk).collect()]
    want_na = [tuple(r) for r in q_nelson_aalen(spark, sf_dir).collect()]
    assert got_na and got_na == want_na


def test_stream_inequality_matches_both_batch_reads(spark, sf_dir, tmp_path):
    """Per-customer revenue cents are a plain-sum monoid, so the state
    maintained across 4 out-of-order micro-batches + the ranked
    finisher feeds BOTH inequality reads to exact equality with their
    batch queries."""
    from locopy_spark.queries.stats import (
        gini_from_ranked,
        inequality_ranked,
        lorenz_from_ranked,
        q_gini,
        q_lorenz_curve,
    )
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_inequality

    o = load_table(spark, sf_dir, "orders")
    for i, pred in enumerate(["3", "0", "2", "1"]):
        o.filter(f"pmod(o_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"ichunk{i}"))
    stream = (
        spark.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "ichunk*"))
    )
    q = stream_inequality(stream, state_view="ineq_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    ranked = inequality_ranked(
        load_table(spark, sf_dir, "customer"),
        spark.table("global_temp.ineq_t"),
    )
    got_g = [tuple(r) for r in gini_from_ranked(ranked).collect()]
    want_g = [tuple(r) for r in q_gini(spark, sf_dir).collect()]
    assert got_g and got_g == want_g
    got_l = [tuple(r) for r in lorenz_from_ranked(ranked).collect()]
    want_l = [tuple(r) for r in q_lorenz_curve(spark, sf_dir).collect()]
    assert got_l and got_l == want_l


def test_stream_peaks_matches_batch(spark, sf_dir, tmp_path):
    """Daily revenue cents are a plain-sum monoid; prominence is
    derived only in the finisher, so the state maintained across 4
    out-of-order micro-batches + the peak finisher equals batch
    q_peak_days exactly."""
    from locopy_spark.queries.timeseries import peaks_report, q_peak_days
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_peaks

    o = load_table(spark, sf_dir, "orders")
    for i, pred in enumerate(["3", "1", "2", "0"]):
        o.filter(f"pmod(o_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"pchunk{i}"))
    stream = (
        spark.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "pchunk*"))
    )
    q = stream_peaks(stream, state_view="peaks_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in peaks_report(spark.table("global_temp.peaks_t")).collect()
    ]
    want = [tuple(r) for r in q_peak_days(spark, sf_dir).collect()]
    assert got and got == want
    # second finisher over the SAME daily-revenue state: the best
    # change-point closes from the identical monoid
    from locopy_spark.queries.timeseries import (
        changepoint_report,
        q_changepoint,
    )

    got_c = [
        tuple(r)
        for r in changepoint_report(
            spark.table("global_temp.peaks_t")
        ).collect()
    ]
    want_c = [tuple(r) for r in q_changepoint(spark, sf_dir).collect()]
    assert got_c and got_c == want_c
    # third finisher over the SAME state: the drawdown profile
    from locopy_spark.queries.timeseries import drawdown_report, q_drawdown

    got_d = [
        tuple(r)
        for r in drawdown_report(
            spark.table("global_temp.peaks_t")
        ).collect()
    ]
    want_d = [tuple(r) for r in q_drawdown(spark, sf_dir).collect()]
    assert got_d and got_d == want_d
    # fourth finisher over the SAME state: weekly seasonality strength
    from locopy_spark.queries.stats import (
        q_seasonal_strength,
        seasonal_strength_report,
    )

    got_s = [
        tuple(r)
        for r in seasonal_strength_report(
            spark.table("global_temp.peaks_t")
        ).collect()
    ]
    want_s = [tuple(r) for r in q_seasonal_strength(spark, sf_dir).collect()]
    assert got_s and got_s == want_s
    # fifth finisher over the SAME state: XmR control-chart breaches
    from locopy_spark.queries.timeseries import q_xmr_control, xmr_report

    got_x = [
        tuple(r)
        for r in xmr_report(spark.table("global_temp.peaks_t")).collect()
    ]
    want_x = [tuple(r) for r in q_xmr_control(spark, sf_dir).collect()]
    assert got_x == want_x
    # sixth finisher over the SAME state: Bollinger band breaches
    from locopy_spark.queries.timeseries import bollinger_report, q_bollinger

    got_b = [
        tuple(r)
        for r in bollinger_report(
            spark.table("global_temp.peaks_t")
        ).collect()
    ]
    want_b = [tuple(r) for r in q_bollinger(spark, sf_dir).collect()]
    assert got_b and got_b == want_b
    # seventh finisher over the SAME state: RSI momentum signals
    from locopy_spark.queries.timeseries import q_rsi, rsi_report

    got_r = [
        tuple(r)
        for r in rsi_report(spark.table("global_temp.peaks_t")).collect()
    ]
    want_r = [tuple(r) for r in q_rsi(spark, sf_dir).collect()]
    assert got_r and got_r == want_r
    # eighth finisher over the SAME state: the MASE forecast-skill panel
    from locopy_spark.queries.timeseries import mase_report, q_mase

    got_m = [
        tuple(r)
        for r in mase_report(spark.table("global_temp.peaks_t")).collect()
    ]
    want_m = [tuple(r) for r in q_mase(spark, sf_dir).collect()]
    assert got_m and got_m == want_m


def test_stream_fulfillment_matches_batch(spark, sf_dir, tmp_path):
    """Per-order first-ship days are a per-key MIN monoid; chunking by
    SUPPLIER splits one order's lines across out-of-order batches so
    the MIN genuinely merges; state + the lag-histogram finisher
    equals batch q_fulfillment_lag exactly."""
    from locopy_spark.queries.tpch_ext import (
        fulfillment_report,
        q_fulfillment_lag,
    )
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_fulfillment

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    for i, pred in enumerate(["3", "1", "2", "0"]):
        l.filter(f"pmod(l_suppkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"fchunk{i}"))
    stream = (
        spark.readStream.schema(l.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "fchunk*"))
    )
    q = stream_fulfillment(stream, o, state_view="fulfillment_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in fulfillment_report(
            spark.table("global_temp.fulfillment_t")
        ).collect()
    ]
    want = [tuple(r) for r in q_fulfillment_lag(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_basket_size_matches_batch(spark, sf_dir, tmp_path):
    """Per-order line counts are a plain-sum monoid; chunking by
    SUPPLIER splits one order's lines across out-of-order batches so
    counts genuinely merge; state + the histogram finisher (bucketing
    at read time) equals batch q_basket_size_dist exactly."""
    from locopy_spark.queries.tpch import basket_report, q_basket_size_dist
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_basket_size

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    for i, pred in enumerate(["2", "0", "3", "1"]):
        l.filter(f"pmod(l_suppkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"bszchunk{i}"))
    stream = (
        spark.readStream.schema(l.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "bszchunk*"))
    )
    q = stream_basket_size(stream, state_view="basket_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in basket_report(
            spark.table("global_temp.basket_t"), o
        ).collect()
    ]
    want = [tuple(r) for r in q_basket_size_dist(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_value_migration_matches_batch(spark, sf_dir, tmp_path):
    """Per-(customer, year) revenue cents are a plain-sum monoid;
    ranking + the 10x10 transition matrix derive only in the
    finisher, so state across 4 out-of-order chunks + finisher equals
    batch q_value_migration exactly."""
    from locopy_spark.queries.tpch_ext import (
        migration_report,
        q_value_migration,
    )
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_value_migration

    o = load_table(spark, sf_dir, "orders")
    for i, pred in enumerate(["1", "3", "0", "2"]):
        o.filter(f"pmod(o_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"vmchunk{i}"))
    stream = (
        spark.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "vmchunk*"))
    )
    q = stream_value_migration(stream, state_view="migration_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in migration_report(
            spark.table("global_temp.migration_t")
        ).collect()
    ]
    want = [tuple(r) for r in q_value_migration(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_street_vs_list_matches_batch(spark, sf_dir, tmp_path):
    """(brand, band) cell counts are additive because banding is
    row-local; state across 4 out-of-order lineitem chunks + the
    share finisher equals batch q_street_vs_list exactly."""
    from locopy_spark.queries.tpch_ext import q_street_vs_list, svl_report
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_street_vs_list

    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    for i, pred in enumerate(["2", "3", "0", "1"]):
        l.filter(f"pmod(l_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"svlchunk{i}"))
    stream = (
        spark.readStream.schema(l.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "svlchunk*"))
    )
    q = stream_street_vs_list(stream, p, state_view="svl_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in svl_report(spark.table("global_temp.svl_t")).collect()
    ]
    want = [tuple(r) for r in q_street_vs_list(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_price_index_matches_batch(spark, sf_dir, tmp_path):
    """Per-(part, year) revenue/quantity sums are plain-sum monoids;
    unit prices and the matched-basket index chain derive only in the
    finisher, so state across 4 out-of-order SUPPLIER-keyed chunks
    (one part-year's lines span batches) + finisher equals batch
    q_price_index exactly."""
    from locopy_spark.queries.tpch_ext import (
        price_index_report,
        q_price_index,
    )
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_price_index

    l = load_table(spark, sf_dir, "lineitem")
    for i, pred in enumerate(["1", "2", "0", "3"]):
        l.filter(f"pmod(l_suppkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"pichunk{i}"))
    stream = (
        spark.readStream.schema(l.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "pichunk*"))
    )
    q = stream_price_index(stream, state_view="price_index_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in price_index_report(
            spark.table("global_temp.price_index_t")
        ).collect()
    ]
    want = [tuple(r) for r in q_price_index(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_stickiness_matches_batch(spark, sf_dir, tmp_path):
    """The (day, user) grid is an idempotent SET; chunks OVERLAP (every
    event delivered twice across chunks) and arrive out of order, and
    the union+distinct state + monthly finisher still equals batch
    q_stickiness exactly."""
    from locopy_spark.queries.timeseries import q_stickiness, stickiness_report
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_stickiness

    e = load_table(spark, sf_dir, "events")
    # overlapping re-delivery: chunk i = {pmod in {i, i+1 mod 4}}
    for i in range(4):
        e.filter(
            f"pmod(event_id, 4) in ({(i + 2) % 4}, {(i + 3) % 4})"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"stkchunk{i}")
        )
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "stkchunk*"))
    )
    q = stream_stickiness(stream, state_view="stickiness_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in stickiness_report(
            spark.table("global_temp.stickiness_t")
        ).collect()
    ]
    want = [tuple(r) for r in q_stickiness(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_abc_xyz_matches_batch(spark, sf_dir, tmp_path):
    """The (part, month) demand grid is a plain-sum monoid; CV² bands
    and prefix-sum ABC classes derive only in the finisher, so state
    across 4 out-of-order SUPPLIER-keyed chunks + finisher equals
    batch q_abc_xyz exactly."""
    from locopy_spark.queries.tpch_ext import abc_xyz_report, q_abc_xyz
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_abc_xyz

    l = load_table(spark, sf_dir, "lineitem")
    for i, pred in enumerate(["2", "1", "3", "0"]):
        l.filter(f"pmod(l_suppkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"axchunk{i}"))
    stream = (
        spark.readStream.schema(l.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "axchunk*"))
    )
    q = stream_abc_xyz(stream, state_view="abc_xyz_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in abc_xyz_report(
            spark.table("global_temp.abc_xyz_t")
        ).collect()
    ]
    want = [tuple(r) for r in q_abc_xyz(spark, sf_dir).collect()]
    assert got and got == want
    # second + third finishers over the SAME demand grid
    from locopy_spark.queries.tpch_ext import (
        croston_report,
        obsolete_report,
        q_croston,
        q_demand_obsolete,
    )

    state = spark.table("global_temp.abc_xyz_t")
    got_c = [tuple(r) for r in croston_report(state).collect()]
    want_c = [tuple(r) for r in q_croston(spark, sf_dir).collect()]
    assert got_c and got_c == want_c
    got_o = [tuple(r) for r in obsolete_report(state).collect()]
    want_o = [tuple(r) for r in q_demand_obsolete(spark, sf_dir).collect()]
    assert got_o == want_o
    # fourth finisher over the SAME demand grid: newsvendor quantiles
    from locopy_spark.queries.tpch_ext import newsvendor_report, q_newsvendor

    got_n = [tuple(r) for r in newsvendor_report(state).collect()]
    want_n = [tuple(r) for r in q_newsvendor(spark, sf_dir).collect()]
    assert got_n and got_n == want_n
    # fifth finisher over the SAME demand grid: the brand
    # cannibalization matrix (grid rolled up through the part dim)
    from locopy_spark.queries.stats import brand_xcorr_report, q_brand_xcorr
    from locopy_spark.sources.tables import load_table as _lt

    part = _lt(spark, sf_dir, "part")
    got_b = [tuple(r) for r in brand_xcorr_report(state, part).collect()]
    want_b = [tuple(r) for r in q_brand_xcorr(spark, sf_dir).collect()]
    assert got_b and got_b == want_b


def test_stream_odds_ratio_matches_batch(spark, sf_dir, tmp_path):
    """Four 2x2 counters are a 1-row additive monoid; state across 4
    out-of-order chunks + the row-local OR/RR finisher equals batch
    q_odds_ratio exactly."""
    from locopy_spark.queries.tpch_ext import odds_report, q_odds_ratio
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_odds_ratio

    l = load_table(spark, sf_dir, "lineitem")
    for i, pred in enumerate(["3", "0", "2", "1"]):
        l.filter(f"pmod(l_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"orchunk{i}"))
    stream = (
        spark.readStream.schema(l.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "orchunk*"))
    )
    q = stream_odds_ratio(stream, state_view="odds_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in odds_report(spark.table("global_temp.odds_t")).collect()
    ]
    want = [tuple(r) for r in q_odds_ratio(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_cycle_time_matches_batch(spark, sf_dir, tmp_path):
    """Per-order close days are a per-key MAX monoid (clamp commutes
    with MAX); chunking by SUPPLIER splits one order's lines across
    out-of-order batches so the MAX genuinely merges; state + the
    Little's-law month panel equals batch q_little_law exactly."""
    from locopy_spark.queries.tpch_ext import (
        little_law_report,
        q_little_law,
    )
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_cycle_time

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    for i, pred in enumerate(["1", "3", "0", "2"]):
        l.filter(f"pmod(l_suppkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"cychunk{i}"))
    stream = (
        spark.readStream.schema(l.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "cychunk*"))
    )
    q = stream_cycle_time(stream, o, state_view="cycle_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in little_law_report(
            spark.table("global_temp.cycle_t")
        ).collect()
    ]
    want = [tuple(r) for r in q_little_law(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_leadtime_matches_batch(spark, sf_dir, tmp_path):
    """(supplier, lag) cells are plain-sum monoids; chunking by ORDER
    key splits one supplier's lines across out-of-order batches so the
    sums genuinely merge; state + the scorecard finisher equals batch
    q_supplier_leadtime exactly."""
    from locopy_spark.queries.tpch_ext import (
        leadtime_report,
        q_supplier_leadtime,
    )
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_leadtime

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    for i, pred in enumerate(["2", "0", "3", "1"]):
        l.filter(f"pmod(l_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"ltchunk{i}"))
    stream = (
        spark.readStream.schema(l.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "ltchunk*"))
    )
    q = stream_leadtime(stream, o, state_view="leadtime_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in leadtime_report(
            spark.table("global_temp.leadtime_t")
        ).collect()
    ]
    want = [tuple(r) for r in q_supplier_leadtime(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_sla_matches_batch(spark, sf_dir, tmp_path):
    """(ship-month, priority) cells are plain-sum monoids; chunking by
    ORDER key splits one month's lines across out-of-order batches so
    the sums genuinely merge; ONE state feeds TWO finishers — the SLA
    attainment panel equals batch q_ship_sla AND the Friedman
    priority-effect panel equals batch q_friedman, bit-exactly."""
    from locopy_spark.queries.stats import friedman_report, q_friedman
    from locopy_spark.queries.tpch_ext import q_ship_sla, sla_report
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_sla

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    for i, pred in enumerate(["1", "3", "0", "2"]):
        l.filter(f"pmod(l_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"slachunk{i}"))
    stream = (
        spark.readStream.schema(l.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "slachunk*"))
    )
    q = stream_sla(stream, o, state_view="sla_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    state = spark.table("global_temp.sla_t")
    got = [tuple(r) for r in sla_report(state).collect()]
    want = [tuple(r) for r in q_ship_sla(spark, sf_dir).collect()]
    assert got and got == want
    # second finisher over the SAME state: the Friedman rank panel
    got_f = [tuple(r) for r in friedman_report(state).collect()]
    want_f = [tuple(r) for r in q_friedman(spark, sf_dir).collect()]
    assert got_f and got_f == want_f


def test_stream_mcnemar_matches_batch(spark, sf_dir, tmp_path):
    """Per-customer year flags are OR monoids; the four chunks OVERLAP
    (each order is delivered twice across chunks) so idempotent
    absorption is genuinely exercised; state + the 2x2/chi-square
    finisher equals batch q_mcnemar exactly."""
    from locopy_spark.queries.trends import mcnemar_report, q_mcnemar
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_mcnemar

    o = load_table(spark, sf_dir, "orders")
    # overlapping chunks: pmod 0|1, 1|2, 2|3, 3|0 — every order twice
    for i, (p1, p2) in enumerate([(0, 1), (1, 2), (2, 3), (3, 0)]):
        o.filter(
            f"pmod(o_orderkey, 4) IN ({p1}, {p2})"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"mcchunk{i}")
        )
    stream = (
        spark.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "mcchunk*"))
    )
    q = stream_mcnemar(stream, state_view="mcnemar_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in mcnemar_report(
            spark.table("global_temp.mcnemar_t")
        ).collect()
    ]
    want = [tuple(r) for r in q_mcnemar(spark, sf_dir).collect()]
    assert got and got == want
    # second finisher over the SAME state: capture-recapture estimate
    from locopy_spark.queries.trends import (
        capture_report,
        q_capture_recapture,
    )

    got_c = [
        tuple(r)
        for r in capture_report(
            spark.table("global_temp.mcnemar_t")
        ).collect()
    ]
    want_c = [tuple(r) for r in q_capture_recapture(spark, sf_dir).collect()]
    assert got_c and got_c == want_c


def test_stream_growth_matches_batch(spark, sf_dir, tmp_path):
    """The (user, week) grid is an idempotent SET monoid; the four
    chunks OVERLAP (every event delivered twice) so union+distinct
    absorption is genuinely exercised; state + the flow finisher
    equals batch q_growth_accounting exactly."""
    from locopy_spark.queries.timeseries import (
        growth_report,
        q_growth_accounting,
    )
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_growth

    e = load_table(spark, sf_dir, "events")
    for i, (p1, p2) in enumerate([(2, 3), (0, 1), (3, 0), (1, 2)]):
        e.filter(
            f"pmod(event_id, 4) IN ({p1}, {p2})"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"grchunk{i}")
        )
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "grchunk*"))
    )
    q = stream_growth(stream, state_view="growth_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in growth_report(
            spark.table("global_temp.growth_t")
        ).collect()
    ]
    want = [tuple(r) for r in q_growth_accounting(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_did_matches_batch(spark, sf_dir, tmp_path):
    """The four (treat, post) cells are plain-sum monoids; chunking by
    ORDER key spreads every cell across out-of-order batches; state +
    the panel finisher equals batch q_did exactly."""
    from locopy_spark.queries.trends import did_report, q_did
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_did

    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    for i, pred in enumerate(["3", "0", "2", "1"]):
        l.filter(f"pmod(l_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"didchunk{i}"))
    stream = (
        spark.readStream.schema(l.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "didchunk*"))
    )
    q = stream_did(stream, p, state_view="did_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in did_report(spark.table("global_temp.did_t")).collect()
    ]
    want = [tuple(r) for r in q_did(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_dispersion_matches_batch(spark, sf_dir, tmp_path):
    """Per-part power sums are plain-sum monoids; chunking by ORDER
    key splits one part's lines across out-of-order batches so the
    sums genuinely merge (and a part can cross the n >= 2 scoring
    threshold mid-stream); state + the banded finisher equals batch
    q_price_dispersion exactly."""
    from locopy_spark.queries.tpch_ext import (
        dispersion_report,
        q_price_dispersion,
    )
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_dispersion

    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    for i, pred in enumerate(["0", "2", "1", "3"]):
        l.filter(f"pmod(l_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"dspchunk{i}"))
    stream = (
        spark.readStream.schema(l.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "dspchunk*"))
    )
    q = stream_dispersion(stream, p, state_view="dispersion_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in dispersion_report(
            spark.table("global_temp.dispersion_t"), p
        ).collect()
    ]
    want = [tuple(r) for r in q_price_dispersion(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_logrank_matches_batch(spark, sf_dir, tmp_path):
    """Grouped spans are (MIN, MAX) monoids per customer; chunking by
    ORDER key splits one customer's orders across out-of-order batches
    so the span genuinely merges (and the global horizon moves);
    state + the log-rank finisher equals batch q_logrank exactly."""
    from locopy_spark.queries.assoc import logrank_report, q_logrank
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_logrank

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    for i, pred in enumerate(["1", "3", "2", "0"]):
        o.filter(f"pmod(o_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"lrchunk{i}"))
    stream = (
        spark.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "lrchunk*"))
    )
    q = stream_logrank(stream, c, state_view="logrank_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in logrank_report(
            spark.table("global_temp.logrank_t")
        ).collect()
    ]
    want = [tuple(r) for r in q_logrank(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_cliffs_matches_batch(spark, sf_dir, tmp_path):
    """Per-value segment counts are plain-sum monoids; chunking by
    ORDER key spreads every value cell across out-of-order batches;
    state + the prefix-pass finisher equals batch q_cliffs_delta
    exactly."""
    from locopy_spark.queries.stats import cliffs_report, q_cliffs_delta
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_cliffs

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    for i, pred in enumerate(["2", "0", "3", "1"]):
        o.filter(f"pmod(o_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"clchunk{i}"))
    stream = (
        spark.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "clchunk*"))
    )
    q = stream_cliffs(stream, c, state_view="cliffs_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    state = spark.table("global_temp.cliffs_t")
    got = [tuple(r) for r in cliffs_report(state).collect()]
    want = [tuple(r) for r in q_cliffs_delta(spark, sf_dir).collect()]
    assert got and got == want
    # second + third finishers over the SAME value grid: the full
    # two-sample panel (shape test + location test) closes live
    from locopy_spark.queries.stats import (
        ks_report,
        mw_report,
        q_ks_test,
        q_mann_whitney,
    )

    got_k = [tuple(r) for r in ks_report(state).collect()]
    want_k = [tuple(r) for r in q_ks_test(spark, sf_dir).collect()]
    assert got_k and got_k == want_k
    got_m = [tuple(r) for r in mw_report(state).collect()]
    want_m = [tuple(r) for r in q_mann_whitney(spark, sf_dir).collect()]
    assert got_m and got_m == want_m


def test_stream_levene_matches_batch(spark, sf_dir, tmp_path):
    """(priority, value) grid cells are plain-sum monoids; chunking by
    ORDER key spreads every cell across out-of-order batches (group
    medians move between batches); state + the Brown-Forsythe finisher
    equals batch q_levene exactly."""
    from locopy_spark.queries.stats import levene_report, q_levene
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_levene

    o = load_table(spark, sf_dir, "orders")
    for i, pred in enumerate(["0", "3", "1", "2"]):
        o.filter(f"pmod(o_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"lvchunk{i}"))
    stream = (
        spark.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "lvchunk*"))
    )
    q = stream_levene(stream, state_view="levene_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in levene_report(
            spark.table("global_temp.levene_t")
        ).collect()
    ]
    want = [tuple(r) for r in q_levene(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_cuped_matches_batch(spark, sf_dir, tmp_path):
    """Per-customer (pre, post) cent sums are plain-sum monoids;
    chunking by ORDER key splits one customer's two years across
    out-of-order batches so the per-key merge is genuinely exercised;
    state + the θ/adjusted-diff finisher equals batch q_cuped exactly
    (same fixed-order double chain over identical exact moments)."""
    from locopy_spark.queries.trends import cuped_report, cuped_treat, q_cuped
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_cuped

    o = load_table(spark, sf_dir, "orders")
    for i, pred in enumerate(["2", "0", "3", "1"]):
        o.filter(f"pmod(o_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"cupchunk{i}"))
    stream = (
        spark.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "cupchunk*"))
    )
    q = stream_cuped(stream, state_view="cuped_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in cuped_report(
            cuped_treat(spark.table("global_temp.cuped_t"))
        ).collect()
    ]
    want = [tuple(r) for r in q_cuped(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_loyalty_matches_batch(spark, sf_dir, tmp_path):
    """Per-customer year-pair sums are plain-sum monoids and tiers are
    row-local CASE rules, so a customer crossing a tier boundary
    mid-stream (orders split across chunks) lands in the right cell;
    state + the matrix finisher equals batch q_loyalty_migration."""
    from locopy_spark.queries.tpch_ext import (
        loyalty_report,
        q_loyalty_migration,
    )
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_loyalty

    o = load_table(spark, sf_dir, "orders")
    for i, pred in enumerate(["3", "1", "0", "2"]):
        o.filter(f"pmod(o_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"loychunk{i}"))
    stream = (
        spark.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "loychunk*"))
    )
    q = stream_loyalty(stream, state_view="loyalty_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in loyalty_report(
            spark.table("global_temp.loyalty_t")
        ).collect()
    ]
    want = [tuple(r) for r in q_loyalty_migration(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_ndr_matches_batch(spark, sf_dir, tmp_path):
    """The (customer, year) revenue grid is a plain-sum monoid and the
    year+1 self-join happens only at close, so a cohort's next-year
    revenue arriving in a later chunk moves its NDR exactly as batch;
    4 out-of-order ORDER-keyed chunks."""
    from locopy_spark.queries.timeseries import ndr_report, q_ndr
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_ndr

    o = load_table(spark, sf_dir, "orders")
    for i, pred in enumerate(["1", "2", "3", "0"]):
        o.filter(f"pmod(o_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"ndrchunk{i}"))
    stream = (
        spark.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "ndrchunk*"))
    )
    q = stream_ndr(stream, state_view="ndr_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in ndr_report(spark.table("global_temp.ndr_t")).collect()
    ]
    want = [tuple(r) for r in q_ndr(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_bass_matches_batch(spark, sf_dir, tmp_path):
    """The per-customer first week is an IDEMPOTENT MIN monoid; the
    four chunks OVERLAP (every order delivered twice) so idempotent
    absorption is genuinely exercised — a re-delivered first order
    must not move the adoption curve; state + the diffusion fit
    equals batch q_bass_diffusion exactly."""
    from locopy_spark.queries.timeseries import (
        bass_grid,
        bass_report,
        q_bass_diffusion,
    )
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_bass

    o = load_table(spark, sf_dir, "orders")
    for i, (p1, p2) in enumerate([(0, 1), (1, 2), (2, 3), (3, 0)]):
        o.filter(
            f"pmod(o_orderkey, 4) IN ({p1}, {p2})"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"basschunk{i}")
        )
    stream = (
        spark.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "basschunk*"))
    )
    q = stream_bass(stream, state_view="bass_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in bass_report(
            bass_grid(spark.table("global_temp.bass_t")), spark
        ).collect()
    ]
    want = [tuple(r) for r in q_bass_diffusion(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_shapley_matches_batch(spark, sf_dir, tmp_path):
    """Per-user first-touch times are IDEMPOTENT MIN monoids; the
    four chunks OVERLAP (every event delivered twice) AND are keyed
    by EVENT id so one user's purchase and touches arrive in
    different batches — the mask must converge to the batch mask
    regardless; state + grid + φ panel equals batch exactly, and the
    Shapley efficiency identity Σφ·k! = k!·(v(full) − v(∅)) holds."""
    from locopy_spark.queries.events_ext import (
        q_attribution_shapley,
        shapley_grid,
        shapley_report,
    )
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_shapley

    e = load_table(spark, sf_dir, "events")
    for i, (p1, p2) in enumerate([(0, 1), (1, 2), (2, 3), (3, 0)]):
        e.filter(
            f"pmod(event_id, 4) IN ({p1}, {p2})"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"shapchunk{i}")
        )
    stream = (
        spark.readStream.schema(
            spark.read.parquet(str(tmp_path / "shapchunk0")).schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "shapchunk*"))
    )
    q = stream_shapley(stream, state_view="shapley_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got_rows = shapley_report(
        shapley_grid(spark.table("global_temp.shapley_t")), spark
    ).collect()
    got = [tuple(r) for r in got_rows]
    want = [tuple(r) for r in q_attribution_shapley(spark, sf_dir).collect()]
    assert got and got == want
    # efficiency identity: Σφ·k! = k!·(v(full) − v(∅))
    v_full, v_empty = got_rows[0].v_full, got_rows[0].v_empty
    assert sum(r.phi_x24 for r in got_rows) == 24 * (v_full - v_empty)


def test_stream_sprt_matches_batch(spark, sf_dir, tmp_path):
    """The (day, user) activity grid is an idempotent OR monoid; the
    four chunks OVERLAP so re-delivered conversions must not move the
    LLR; state + the sequential monitor equals batch q_sprt exactly
    (same integer constants, same prefix sum)."""
    from locopy_spark.queries.trends import q_sprt, sprt_report
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_sprt

    e = load_table(spark, sf_dir, "events")
    for i, (p1, p2) in enumerate([(0, 1), (1, 2), (2, 3), (3, 0)]):
        e.filter(
            f"pmod(event_id, 4) IN ({p1}, {p2})"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"sprtchunk{i}")
        )
    stream = (
        spark.readStream.schema(
            spark.read.parquet(str(tmp_path / "sprtchunk0")).schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "sprtchunk*"))
    )
    q = stream_sprt(stream, state_view="sprt_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in sprt_report(spark.table("global_temp.sprt_t")).collect()
    ]
    want = [tuple(r) for r in q_sprt(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_funnel_sig_matches_batch(spark, sf_dir, tmp_path):
    """Per-user conditional mins are idempotent MIN monoids; the four
    chunks OVERLAP and are EVENT-keyed, so a user's view can arrive
    after their click and flip the ordered-stage flag exactly as in
    batch; state + the z panel equals batch q_funnel_sig exactly."""
    from locopy_spark.queries.events_ext import (
        funnel_sig_report,
        q_funnel_sig,
    )
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_funnel_sig

    e = load_table(spark, sf_dir, "events")
    for i, (p1, p2) in enumerate([(0, 1), (1, 2), (2, 3), (3, 0)]):
        e.filter(
            f"pmod(event_id, 4) IN ({p1}, {p2})"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"fschunk{i}")
        )
    stream = (
        spark.readStream.schema(
            spark.read.parquet(str(tmp_path / "fschunk0")).schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "fschunk*"))
    )
    q = stream_funnel_sig(stream, state_view="funnel_sig_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in funnel_sig_report(
            spark.table("global_temp.funnel_sig_t")
        ).collect()
    ]
    want = [tuple(r) for r in q_funnel_sig(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_phash_matches_batch(spark, sf_dir, tmp_path):
    """The per-document hash is an idempotent row-local map; the four
    chunks OVERLAP (every document delivered twice) so the keep-any
    merge is genuinely exercised; state + the banded pair finisher
    equals batch m_phash_near_dup exactly."""
    from locopy_spark.queries.docs_ext import m_phash_near_dup, phash_pairs
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_phash

    d = load_table(spark, sf_dir, "documents")
    for i, (p1, p2) in enumerate([(0, 1), (1, 2), (2, 3), (3, 0)]):
        d.filter(
            f"pmod(doc_id, 4) IN ({p1}, {p2})"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"phchunk{i}")
        )
    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "phchunk*"))
    )
    q = stream_phash(stream, state_view="phash_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in phash_pairs(spark.table("global_temp.phash_t")).collect()
    ]
    want = [tuple(r) for r in m_phash_near_dup(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_jarque_bera_matches_batch(spark, sf_dir, tmp_path):
    """The JB finisher shares stream_levene's (priority, value) grid
    monoid; chunking by ORDER key spreads every cell across
    out-of-order batches (group power sums move between batches);
    state + finisher equals batch q_jarque_bera exactly — the shared
    double closures run over identical exact integer sums."""
    from locopy_spark.queries.stats import jb_report, q_jarque_bera
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_jarque_bera

    o = load_table(spark, sf_dir, "orders")
    for i, pred in enumerate(["0", "3", "1", "2"]):
        o.filter(f"pmod(o_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"jbchunk{i}"))
    stream = (
        spark.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "jbchunk*"))
    )
    q = stream_jarque_bera(stream, state_view="jb_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in jb_report(spark.table("global_temp.jb_t")).collect()
    ]
    want = [tuple(r) for r in q_jarque_bera(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_cochran_q_matches_batch(spark, sf_dir, tmp_path):
    """Cochran's Q shares stream_shapley's per-user MIN state; chunking
    by EVENT key splits a user's touches and purchase across
    out-of-order batches (a purchase can arrive before/after the
    touches it retroactively excludes); state + finisher equals batch
    q_cochran_q exactly."""
    from locopy_spark.queries.events_ext import cochran_report, q_cochran_q
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_cochran_q

    e = load_table(spark, sf_dir, "events").drop("ts_ns")
    for i, pred in enumerate(["2", "0", "3", "1"]):
        e.filter(f"pmod(event_id, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"cqchunk{i}"))
    stream = (
        spark.readStream.schema(
            spark.read.parquet(str(tmp_path / "cqchunk0")).schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "cqchunk*"))
    )
    q = stream_cochran_q(stream, state_view="cochran_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in cochran_report(
            spark.table("global_temp.cochran_t")
        ).collect()
    ]
    want = [tuple(r) for r in q_cochran_q(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_ann_postings_matches_batch(spark, sf_dir, tmp_path):
    """The live postings state must equal the batch SQL-fold signature
    table for any chunking, and serving knn_lsh THROUGH the streamed
    postings must equal the live batch serving path exactly."""
    from locopy_spark.operators.similarity import knn_lsh, lsh_signatures
    from locopy_spark.queries.docs import KNN_K, KNN_QUERY_IDS
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_ann_postings

    emb = load_table(spark, sf_dir, "embeddings")
    for i, pred in enumerate(["1", "3", "0", "2"]):
        emb.filter(f"pmod(vec_id, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"annchunk{i}"))
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "annchunk*"))
    )
    q = stream_ann_postings(stream, state_view="annp_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        tuple(r) for r in spark.table("global_temp.annp_t").collect()
    )
    want = sorted(tuple(r) for r in lsh_signatures(emb).collect())
    assert got and got == want
    served = sorted(
        tuple(r)
        for r in knn_lsh(
            emb,
            query_ids=KNN_QUERY_IDS,
            k=KNN_K,
            postings=spark.table("global_temp.annp_t"),
        ).collect()
    )
    batch = sorted(
        tuple(r)
        for r in knn_lsh(emb, query_ids=KNN_QUERY_IDS, k=KNN_K).collect()
    )
    assert served == batch


def test_stream_ann_lists_matches_batch(spark, sf_dir, tmp_path):
    """Live IVF lists against frozen centroids must equal the batch
    assignment for any chunking, and serving knn_ivf THROUGH the
    streamed lists + the same centroids must equal batch s_knn_ivf's
    deployable plan exactly (assignment is per-row deterministic, so
    unlike the LSH arrow path there is no batch-shape caveat)."""
    from pyspark.sql import functions as F

    from locopy_spark.operators.similarity import (
        _ivf_centroids,
        ivf_base_lists,
        knn_ivf,
        with_fixed_norm,
    )
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_ann_lists

    emb = load_table(spark, sf_dir, "embeddings")
    cent = _ivf_centroids(
        with_fixed_norm(emb), "vec_id", "embedding", 16
    ).localCheckpoint()
    for i, pred in enumerate(["2", "0", "3", "1"]):
        emb.filter(f"pmod(vec_id, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"ivfchunk{i}"))
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "ivfchunk*"))
    )
    q = stream_ann_lists(stream, cent, state_view="annl_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    state = spark.table("global_temp.annl_t")
    got = sorted(
        (r.centroid_id, r.n_id, r.n_norm) for r in state.collect()
    )
    want = sorted(
        (r.centroid_id, r.n_id, r.n_norm)
        for r in ivf_base_lists(emb).collect()
    )
    assert got and got == want
    served = sorted(
        tuple(r)
        for r in knn_ivf(
            emb,
            query_ids=[0, 1, 2, 3, 4],
            k=5,
            n_centroids=16,
            n_probe=4,
            base_lists=state,
            centroids=cent,
        ).collect()
    )
    batch = sorted(
        tuple(r)
        for r in knn_ivf(
            emb, query_ids=[0, 1, 2, 3, 4], k=5, n_centroids=16, n_probe=4
        ).collect()
    )
    assert served == batch


def test_stream_welch_matches_batch(spark, sf_dir, tmp_path):
    """Welch's state is one plain-sum row (n, per-group n/Σv/Σv²);
    out-of-order ORDER-keyed chunks merge by summation and the
    layered fixed-order F/df2 finisher over the merged row equals
    batch q_welch_anova exactly."""
    from locopy_spark.queries.stats import q_welch_anova, welch_report
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_welch

    o = load_table(spark, sf_dir, "orders")
    for i, pred in enumerate(["1", "3", "0", "2"]):
        o.filter(f"pmod(o_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"wechunk{i}"))
    stream = (
        spark.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "wechunk*"))
    )
    q = stream_welch(stream, state_view="welch_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in welch_report(spark.table("global_temp.welch_t")).collect()
    ]
    want = [tuple(r) for r in q_welch_anova(spark, sf_dir).collect()]
    assert got and got == want


def test_stream_moods_matches_batch(spark, sf_dir, tmp_path):
    """The Mood's grid is the stream_levene monoid under its own view;
    ORDER-keyed chunks move the grand median between batches, and the
    grid + moods_report finisher equals batch q_moods_median exactly
    (same prefix-sum median, same fixed-order chi² text over
    identical exact counts)."""
    from locopy_spark.queries.stats import moods_report, q_moods_median
    from locopy_spark.sources.tables import load_table
    from locopy_spark.streaming.stateful import stream_moods

    o = load_table(spark, sf_dir, "orders")
    for i, pred in enumerate(["3", "1", "2", "0"]):
        o.filter(f"pmod(o_orderkey, 4) = {pred}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"mochunk{i}"))
    stream = (
        spark.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "mochunk*"))
    )
    q = stream_moods(stream, state_view="moods_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        tuple(r)
        for r in moods_report(spark.table("global_temp.moods_t")).collect()
    ]
    want = [tuple(r) for r in q_moods_median(spark, sf_dir).collect()]
    assert got and got == want
