"""Sources/sinks round-trips (B2/B3/B5) and Structured Streaming operators
(§2.C push-source realization)."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from basis_devkit_spark.sources import (
    read_csv,
    read_json,
    read_records,
    write_csv,
    write_json,
    write_parquet,
)


def test_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    path = str(tmp_path / "csv")
    write_csv(df, path)
    back = read_csv(spark, path)
    assert {(r.k, r.v) for r in back.collect()} == {(1, "a"), (2, "b")}


def test_json_roundtrip_and_partitioning(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "x", "2026-01-01"), (2, "y", "2026-01-02")], "k int, v string, d string"
    )
    path = str(tmp_path / "json")
    write_json(df, path, partition_by=["d"])
    assert os.path.isdir(os.path.join(path, "d=2026-01-01"))  # partition pruning layout
    back = read_json(spark, path)
    assert back.count() == 2


def test_parquet_partitioned_write(spark, tmp_path):
    df = spark.createDataFrame([(i, i % 3) for i in range(30)], "k int, b int")
    path = str(tmp_path / "pq")
    write_parquet(df, path, partition_by=["b"], max_records_per_file=5)
    back = spark.read.parquet(path)
    assert back.count() == 30
    # partition pruning: only one directory scanned
    pruned = back.filter("b = 1")
    assert pruned.count() == 10


def test_read_records(spark):
    df = read_records(spark, [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}])
    assert df.count() == 2
    single = read_records(spark, {"a": 3, "b": "z"})
    assert single.count() == 1


def test_streaming_file_source_to_sink(spark, tmp_path):
    """End-to-end micro-batch: JSON drop dir → watermarked tumbling agg →
    parquet sink with checkpoint (exactly-once)."""
    from basis_devkit_spark.streaming import (
        read_stream_directory,
        stream_to_managed_table,
        tumbling_window_agg,
    )

    src = tmp_path / "drop"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    with open(src / "batch1.json", "w") as f:
        for i in range(10):
            f.write(json.dumps({"ts": f"2024-01-01T00:{i:02d}:00", "user_id": i % 2, "value": 1.0}) + "\n")

    stream = read_stream_directory(
        spark, str(src), format="json", schema="ts timestamp, user_id long, value double"
    )
    agg = tumbling_window_agg(stream, "ts", window="1 hour", keys=["user_id"])
    q = (
        agg.writeStream.format("memory")
        .queryName("t_agg")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from t_agg").collect()
        assert sum(r.n_events for r in rows) == 10
        assert {r.user_id for r in rows} == {0, 1}
    finally:
        q.stop()

    # raw append sink with checkpoint
    stream2 = read_stream_directory(
        spark, str(src), format="json", schema="ts timestamp, user_id long, value double"
    )
    sink = stream_to_managed_table(stream2, out, ckpt, trigger_seconds=1).start()
    try:
        sink.processAllAvailable()
        assert spark.read.parquet(out).count() == 10
    finally:
        sink.stop()


def test_streaming_dedup_within_watermark(spark, tmp_path):
    from basis_devkit_spark.streaming import dedup_within_watermark

    src = tmp_path / "drop2"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        for i in [1, 1, 2, 2, 3]:
            f.write(json.dumps({"ts": "2024-01-01T00:00:00", "k": i}) + "\n")
    stream = spark.readStream.schema("ts timestamp, k long").json(str(src))
    deduped = dedup_within_watermark(stream, ["k"], "ts", watermark="1 hour")
    q = deduped.writeStream.format("memory").queryName("t_dedup").outputMode("append").start()
    try:
        q.processAllAvailable()
        ks = sorted(r.k for r in spark.sql("select * from t_dedup").collect())
        assert ks == [1, 2, 3]
    finally:
        q.stop()


def test_stateful_running_agg(spark, tmp_path):
    from basis_devkit_spark.streaming import stateful_running_agg

    src = tmp_path / "drop3"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        for uid, v in [(1, 2.0), (1, 3.0), (2, 1.0)]:
            f.write(json.dumps({"ts": "2024-01-01T00:00:00", "user_id": uid, "value": v}) + "\n")
    stream = spark.readStream.schema("ts timestamp, user_id long, value double").json(str(src))
    agg = stateful_running_agg(stream, idle_timeout_ms=0)
    q = agg.writeStream.format("memory").queryName("t_state").outputMode("update").start()
    try:
        q.processAllAvailable()
        got = {r.key: (r.n_total, r.sum_total) for r in spark.sql("select * from t_state").collect()}
        assert got == {1: (2, 5.0), 2: (1, 1.0)}
    finally:
        q.stop()


def test_stream_append_to_store_exactly_once(spark, tmp_path):
    """foreachBatch into the MANAGED store: micro-batches commit through
    the versioned append path; a replayed batch id (crash-restart
    simulation) is skipped, not double-ingested."""
    import json as _json

    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming import (
        read_stream_directory,
        stream_append_to_store,
    )

    src = tmp_path / "drop"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        for i in range(5):
            f.write(_json.dumps({"k": i, "v": float(i)}) + "\n")

    store = TableStore(str(tmp_path / "root"), "t", spark)
    stream = read_stream_directory(
        spark, str(src), format="json", schema="k long, v double"
    )
    q = stream_append_to_store(
        stream, store, str(tmp_path / "ckpt")
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert store.record_count == 5
    first_version = store.get_active_version()

    # a second file: new micro-batch appends a NEW version
    with open(src / "b2.json", "w") as f:
        f.write(_json.dumps({"k": 9, "v": 9.0}) + "\n")
    stream2 = read_stream_directory(
        spark, str(src), format="json", schema="k long, v double"
    )
    q2 = stream_append_to_store(
        stream2, store, str(tmp_path / "ckpt")
    ).start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert store.record_count == 6
    assert store.get_active_version() > first_version

    # checkpoint-replay simulation: re-delivering an old batch id is a no-op
    replay = spark.createDataFrame([(99, 99.0)], "k long, v double")
    assert store.append_stream_batch(replay, batch_id=0) is False
    assert store.record_count == 6


def test_stream_batch_retry_after_failed_append(spark, tmp_path):
    """A micro-batch whose append FAILS (expectation fail-mode) must not
    leave its batch id stamped in memory: a later unrelated commit would
    persist it and the checkpoint replay of that batch would be skipped —
    silent data loss despite the exactly-once claim."""
    import pytest

    from basis_devkit_spark.storage.store import TableStore

    store = TableStore(str(tmp_path / "root"), "t", spark)
    store.configure(
        expectations={"v_pos": "v > 0"}, expectations_mode="fail"
    )
    ok = spark.createDataFrame([(1, 1.0)], "k long, v double")
    assert store.append_stream_batch(ok, batch_id=0) is True
    assert store.record_count == 1

    bad = spark.createDataFrame([(2, -1.0)], "k long, v double")
    with pytest.raises(ValueError):
        store.append_stream_batch(bad, batch_id=1)
    # the failed batch's id must NOT be remembered...
    assert store._manifest.last_stream_batch_id == 0
    # ...so the checkpoint replay of batch 1 (fixed upstream) re-ingests
    fixed = spark.createDataFrame([(2, 2.0)], "k long, v double")
    assert store.append_stream_batch(fixed, batch_id=1) is True
    assert store.record_count == 2
    # and a reloaded manifest agrees (id was never durably persisted early)
    reloaded = TableStore(str(tmp_path / "root"), "t", spark)
    assert reloaded._manifest.last_stream_batch_id == 1
    assert reloaded.record_count == 2


def test_stream_interval_join_range_semantics(spark, tmp_path):
    """Stream-stream interval join pairs rows sharing the key with the
    right event inside [left_ts, left_ts + max_delay]; outside-window and
    wrong-key rows never pair. Result must equal the batch interval join."""
    import json as _json

    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming import ops as sops

    src = tmp_path / "drop"
    src.mkdir()
    rows = [
        # user 1: click t0, purchases at +30min (in), +90min (out)
        {"kind": "click", "eid": 1, "uid": 1, "ts": "2024-01-01T10:00:00"},
        {"kind": "purchase", "eid": 2, "uid": 1, "ts": "2024-01-01T10:30:00"},
        {"kind": "purchase", "eid": 3, "uid": 1, "ts": "2024-01-01T11:30:00"},
        # user 2: purchase BEFORE the click -> no pair
        {"kind": "purchase", "eid": 4, "uid": 2, "ts": "2024-01-01T09:00:00"},
        {"kind": "click", "eid": 5, "uid": 2, "ts": "2024-01-01T09:30:00"},
        # user 3: click only
        {"kind": "click", "eid": 6, "uid": 3, "ts": "2024-01-01T12:00:00"},
    ]
    with open(src / "b.json", "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")
    schema = "kind string, eid long, uid long, ts timestamp"

    def stream():
        return spark.readStream.schema(schema).json(str(src))

    clicks = stream().filter("kind = 'click'").select(
        "uid", F.col("eid").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = stream().filter("kind = 'purchase'").select(
        "uid", F.col("eid").alias("purchase_id"), F.col("ts").alias("purchase_ts")
    )
    joined = sops.stream_interval_join(
        clicks, purchases, "uid", "click_ts", "purchase_ts",
        max_delay="1 hour", watermark="10 days",
    ).select("uid", "click_id", "purchase_id")
    store = TableStore(str(tmp_path / "root"), "attrib", spark)
    q = sops.stream_append_to_store(joined, store, str(tmp_path / "ckpt")).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r.uid, r.click_id, r.purchase_id) for r in store.read().collect()}
    assert got == {(1, 1, 2)}


def test_orc_roundtrip_partitioned(spark, tmp_path):
    from basis_devkit_spark.sources import read_orc, write_orc

    df = spark.createDataFrame(
        [(i, i % 3, f"v{i}") for i in range(30)], "k int, b int, v string"
    )
    path = str(tmp_path / "orc")
    write_orc(df, path, partition_by=["b"])
    import os as _os

    assert _os.path.isdir(_os.path.join(path, "b=1"))
    back = read_orc(spark, path)
    assert back.count() == 30
    assert back.filter("b = 2").count() == 10


def test_stream_upsert_sink_converges_and_skips_replay(spark, tmp_path):
    """Update-mode aggregation -> upsert sink: across two micro-batches the
    managed table holds exactly the latest per-key state (equal to the
    batch aggregation over all input); a replayed batch id is a no-op."""
    import json as _json

    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_upsert_to_store

    src = tmp_path / "drop"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        for uid, v in [(1, 1.0), (1, 2.0), (2, 5.0)]:
            f.write(_json.dumps({"user_id": uid, "value": v}) + "\n")

    store = TableStore(str(tmp_path / "root"), "stats", spark)
    store.configure(unique_on="user_id")

    def run_stream():
        agg = (
            spark.readStream.schema("user_id long, value double")
            .json(str(src))
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        )
        q = stream_upsert_to_store(agg, store, str(tmp_path / "ckpt")).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_stream()
    got = {r.user_id: (r.n, r.s) for r in store.read().collect()}
    assert got == {1: (2, 3.0), 2: (1, 5.0)}

    with open(src / "b2.json", "w") as f:
        for uid, v in [(1, 10.0), (3, 7.0)]:
            f.write(_json.dumps({"user_id": uid, "value": v}) + "\n")
    run_stream()
    got = {r.user_id: (r.n, r.s) for r in store.read().collect()}
    assert got == {1: (3, 13.0), 2: (1, 5.0), 3: (1, 7.0)}

    # replayed batch id -> skipped, state unchanged
    stale = spark.createDataFrame([(1, 99, 99.0)], "user_id long, n long, s double")
    assert store.upsert_stream_batch(stale, batch_id=0) is False
    got2 = {r.user_id: (r.n, r.s) for r in store.read().collect()}
    assert got2 == got


def test_stream_append_into_zorder_store_prunes(spark, tmp_path):
    """Streaming ingest into a Z-ordered store: every micro-batch write is
    clustered (one approxQuantile pass per batch), footer stats land in
    the manifest, and read_pruned skips files on either dimension while
    matching the plain filtered read exactly. Exactly-once still holds."""
    import json as _json

    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming import (
        read_stream_directory,
        stream_append_to_store,
    )

    src = tmp_path / "drop"
    src.mkdir()
    for b in range(2):  # two micro-batch files
        with open(src / f"b{b}.json", "w") as f:
            for i in range(500):
                x = b * 500 + i
                f.write(_json.dumps({"x": x, "y": (x * 37) % 1000}) + "\n")

    store = TableStore(str(tmp_path / "root"), "t", spark)
    store.configure(zorder_by=["x", "y"])
    keys = (
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize",
    )
    prev = {k: spark.conf.get(k) for k in keys}
    for k in keys:
        spark.conf.set(k, "4096")
    try:
        stream = read_stream_directory(
            spark, str(src), format="json", schema="x long, y long"
        )
        q = stream_append_to_store(stream, store, str(tmp_path / "ckpt")).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert store.record_count == 1000
    kept, total = store.prune_files([("y", ">", 900)])
    n_kept = sum(len(v) for v in kept.values())
    assert total > 2 and n_kept < total, (n_kept, total)  # real skipping
    want = store.read().filter("y > 900").count()
    assert store.read_pruned([("y", ">", 900)]).count() == want


def test_avro_gate_gives_actionable_error(spark, tmp_path):
    """This container has no spark-avro jar: the gate must convert the
    ClassNotFound-ish failure into an actionable RuntimeError (and would
    pass data through unchanged where the jar IS present)."""
    import pytest as _pytest

    from basis_devkit_spark.sources.io import read_avro, write_avro

    df = spark.range(3).toDF("x")
    with _pytest.raises(RuntimeError, match="spark-avro"):
        write_avro(df, str(tmp_path / "a.avro"))
    with _pytest.raises(RuntimeError, match="spark-avro"):
        read_avro(spark, str(tmp_path / "a.avro"))


def test_stream_pagerank_maintenance_equals_one_shot(spark):
    """c18: edges streamed in two micro-batches into an exactly-once
    edge store yield EXACTLY the one-shot distinct edge set, so the
    recomputed scaled-integer ranks are byte-identical to d28's."""
    from basis_devkit_spark.operators.graphrank import pagerank_fixed_point
    from basis_devkit_spark.queries import all_queries, load

    sf = "/root/testdata/sf0.001"
    streamed = {
        (r["node"], r["rank_scaled"])
        for r in all_queries()["c18_stream_pagerank_maintenance"]
        .spark(spark, sf)
        .collect()
    }
    o = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    edges = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    one_shot = {
        (r["node"], r["rank_scaled"])
        for r in pagerank_fixed_point(edges, iters=10, raw_scaled=True)
        .select("node", "rank_scaled")
        .collect()
    }
    assert streamed == one_shot and len(streamed) > 0


def test_pack_append_batch_two_store_crash_replay(spark, tmp_path):
    """c23's two-store exactly-once contract, exercised directly on the
    foreachBatch body: (1) batches accumulate layout + a one-row cursor
    that matches the one-shot pack; (2) replaying a fully-committed
    batch id is a no-op in BOTH stores; (3) a crash BETWEEN the layout
    and state commits (layout stamped, state not) converges on replay —
    the identical layout is recomputed from the still-pre-batch cursor,
    the layout store skips it, the state commit applies."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.text import sequence_pack
    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import pack_append_batch

    docs = [(i, " ".join(["w"] * (3 + i % 5))) for i in range(20)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    layout_store = TableStore(str(tmp_path / "root"), "packed", spark)
    layout_store.configure(unique_on="doc_id")
    state_store = TableStore(str(tmp_path / "root"), "pack_state", spark)
    state_store.configure(unique_on="state_id")

    b1 = df.filter(F.col("doc_id") < 10)
    b2 = df.filter(F.col("doc_id") >= 10)
    pack_append_batch(layout_store, state_store, b1, 0, budget=8)
    cursor_after_b1 = state_store.read().collect()[0]["total_tokens"]
    assert cursor_after_b1 == sum(3 + i % 5 for i in range(10))

    # (3) crash between commits: run batch 1's layout commit, then
    # "crash" before state — simulate by replaying batch id 1 after a
    # manual layout-only commit
    from basis_devkit_spark.operators.text import (
        sequence_pack_append,
    )

    partial = sequence_pack_append(
        b2, 8, cursor_tokens=int(cursor_after_b1)
    )
    layout_store.upsert_stream_batch(partial, 1)  # layout stamped
    assert state_store.read().collect()[0]["total_tokens"] == cursor_after_b1
    # replay of batch 1 (restart): layout skipped, state converges
    pack_append_batch(layout_store, state_store, b2, 1, budget=8)
    total = sum(3 + i % 5 for i in range(20))
    assert state_store.read().collect()[0]["total_tokens"] == total

    # (1) streamed layout == one-shot pack of the concatenation
    key = lambda rows: sorted(
        (r["doc_id"], r["n_tokens"], r["seq_id"], r["seq_offset"])
        for r in rows
    )
    assert key(layout_store.read().collect()) == key(
        sequence_pack(df, budget=8).collect()
    )

    # (2) full replay of a committed batch id: no-op in both stores
    lv, sv = layout_store.get_active_version(), state_store.get_active_version()
    pack_append_batch(layout_store, state_store, b2, 1, budget=8)
    assert layout_store.get_active_version() == lv
    assert state_store.get_active_version() == sv
    st = state_store.read().collect()
    assert len(st) == 1 and st[0]["total_tokens"] == total


def test_transition_count_batch_boundary_and_crash_replay(spark, tmp_path):
    """Cross-batch boundary transitions are counted exactly once, and a
    crash BETWEEN the counts commit and the cursor commit converges on
    replay (the c23 two-store argument, applied to c31)."""
    from datetime import datetime

    import pytest as _pt

    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import transition_count_batch

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    counts = TableStore(str(tmp_path), "c", spark)
    counts.configure(unique_on=["state", "next"])
    cursors = TableStore(str(tmp_path), "s", spark)
    cursors.configure(unique_on="u")
    b1 = spark.createDataFrame(
        [(1, 1, t(1), "A"), (2, 1, t(2), "B"), (3, 2, t(1), "A")],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    b2 = spark.createDataFrame(
        [(4, 1, t(3), "C"), (5, 2, t(3), "A")],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    transition_count_batch(counts, cursors, b1, 1)
    got1 = {(r["state"], r["next"]): r["n_transitions"]
            for r in counts.read().collect()}
    assert got1 == {("A", "B"): 1}
    # crash between the two commits of batch 2
    real = cursors.upsert_stream_batch
    calls = {"n": 0}

    def boom(df, bid):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("crash before cursor commit")
        return real(df, bid)

    cursors.upsert_stream_batch = boom
    with _pt.raises(RuntimeError):
        transition_count_batch(counts, cursors, b2, 2)
    # replay: counts store skips (batch 2 already stamped), cursor lands
    transition_count_batch(counts, cursors, b2, 2)
    cursors.upsert_stream_batch = real
    got = {(r["state"], r["next"]): r["n_transitions"]
           for r in counts.read().collect()}
    # boundary pairs: u1 B->C, u2 A->A — counted exactly ONCE each
    assert got == {("A", "B"): 1, ("B", "C"): 1, ("A", "A"): 1}
    cur = {r["u"]: r["last_event"] for r in cursors.read().collect()}
    assert cur == {1: "C", 2: "A"}


def test_cusum_batch_carry_and_crash_replay(spark, tmp_path):
    """Streamed CUSUM across three batches equals the one-shot e22
    chart row-for-row (the carry: prefix total + floored running min),
    a crash between the rows commit and the cursor commit converges on
    replay, and idle series keep their carry untouched."""
    from datetime import datetime

    import pytest as _pt

    from basis_devkit_spark.operators.timeseries import cusum_changepoints
    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import cusum_batch

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    # u1 drifts up past threshold then crashes down; u2 appears only in
    # batch 1 (its carry must survive batch 2 untouched); a NULL value
    # lands mid-stream (must freeze, not reset)
    all_rows = [
        (1, "u1", t(1), 20.0),
        (2, "u1", t(2), 25.0),
        (3, "u2", t(2), 5.0),
        (4, "u1", t(3), None),
        (5, "u1", t(4), 30.0),
        (6, "u1", t(5), 1.0),
        (7, "u2", t(6), 9.0),
        (8, "u1", t(7), 2.0),
    ]
    schema = "event_id long, user_id string, ts timestamp, value double"
    df = spark.createDataFrame(all_rows, schema)
    kw = dict(target=10.0, slack=1.0, threshold=12.0)
    expect = {
        r["event_id"]: r for r in cusum_changepoints(df, **kw).collect()
    }

    rows = TableStore(str(tmp_path), "rows", spark)
    rows.configure(unique_on="event_id")
    state = TableStore(str(tmp_path), "state", spark)
    state.configure(unique_on="g")
    batches = [all_rows[:3], all_rows[3:6], all_rows[6:]]
    for bid, batch in enumerate(batches, start=1):
        bdf = spark.createDataFrame(batch, schema)
        if bid == 3:  # crash between rows commit and cursor commit
            real = state.upsert_stream_batch

            def boom(d, b):
                raise RuntimeError("crash before cursor commit")

            state.upsert_stream_batch = boom
            with _pt.raises(RuntimeError):
                cusum_batch(rows, state, bdf, bid, **kw)
            state.upsert_stream_batch = real
        cusum_batch(rows, state, bdf, bid, **kw)

    got = {r["event_id"]: r for r in rows.read().collect()}
    assert set(got) == set(expect)
    for eid in expect:
        for c in ("cusum_pos", "cusum_neg", "is_alarm"):
            assert got[eid][c] == expect[eid][c], (eid, c)
    # u2's carry crossed the idle batch: row 7's statistic saw row 3
    assert got[7]["cusum_neg"] == expect[7]["cusum_neg"] != 0.0


def test_replay_delivers_dataframe_batches_in_list_order(spark, monkeypatch):
    """queries.replay: three DataFrame batches, written one file each with
    strictly increasing pinned mtimes, arrive as micro-batches 0, 1, 2 in
    list order."""
    import glob as _glob

    from basis_devkit_spark import queries

    monkeypatch.setattr(queries, "_SCRATCH_ROOTS", [])
    batches = [
        spark.createDataFrame([(i, tag) for i in range(3)], "k int, tag string")
        for tag in ("x", "y", "z")
    ]
    stream = queries.replay(spark, batches)
    files = sorted(
        _glob.glob(os.path.join(queries._SCRATCH_ROOTS[0], "drop", "*.parquet"))
    )
    mtimes = [os.stat(f).st_mtime for f in files]
    assert len(files) == 3 and mtimes == sorted(set(mtimes))

    seen = []

    def record(batch_df, batch_id):
        seen.append((batch_id, sorted({r.tag for r in batch_df.collect()})))

    ckpt = queries.scratch_root("bds_test_ckpt_")
    queries.drain(
        stream.writeStream.foreachBatch(record).option("checkpointLocation", ckpt)
    )
    assert seen == [(0, ["x"]), (1, ["y"]), (2, ["z"])]
    queries._remove_scratch_roots()


def test_replay_links_path_batches(spark, sf_dir, tmp_path, monkeypatch):
    """A path batch is staged as a symlink to the file, never a copy; a
    path batch older than its predecessor would replay out of order, so
    it raises."""
    from basis_devkit_spark import queries

    monkeypatch.setattr(queries, "_SCRATCH_ROOTS", [])
    src = f"{sf_dir}/events.parquet"
    stream = queries.replay(spark, [src])
    link = os.path.join(queries._SCRATCH_ROOTS[0], "drop", "00000.parquet")
    assert os.path.islink(link)
    assert os.path.realpath(link) == os.path.realpath(src)

    n = []
    ckpt = queries.scratch_root("bds_test_ckpt_")
    queries.drain(
        stream.writeStream.foreachBatch(lambda b, _i: n.append(b.count())).option(
            "checkpointLocation", ckpt
        )
    )
    assert n == [spark.read.parquet(src).count()]

    old = tmp_path / "old.parquet"
    old.write_bytes(b"")
    os.utime(old, (1_600_000_000, 1_600_000_000))
    with pytest.raises(ValueError, match="older than batch 0"):
        queries.replay(spark, [spark.range(1), str(old)])
    queries._remove_scratch_roots()


def test_scratch_roots_removed_by_exit_hook(monkeypatch):
    """Scratch roots outlive the registry call (its lazy frame reads from
    them) and are removed by the interpreter-exit hook."""
    from basis_devkit_spark import queries

    monkeypatch.setattr(queries, "_SCRATCH_ROOTS", [])
    root = queries.scratch_root("bds_test_")
    os.makedirs(os.path.join(root, "store", "v1"))
    assert os.path.isdir(root)
    queries._remove_scratch_roots()
    assert not os.path.exists(root)
    assert queries._SCRATCH_ROOTS == []
