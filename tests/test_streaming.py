"""Streaming tests: incremental execution must agree with the batch twins
(whose logic the DuckDB oracle already certifies)."""

from __future__ import annotations

from osm2orc_spark.queries.relational import tumbling_window_hourly
from osm2orc_spark.streaming.events import (
    dedup_events_stream,
    hourly_rollup_stream,
    read_events_stream,
    rocksdb_state_conf,
    run_to_memory,
    running_user_totals_stream,
    session_window_stream,
)


def test_hourly_rollup_stream_matches_batch(spark, sf_smoke):
    events = read_events_stream(spark, f"{sf_smoke}/events.parquet")
    result = run_to_memory(hourly_rollup_stream(events), "hourly_out")
    batch = tumbling_window_hourly(spark, sf_smoke)
    got = {tuple(r) for r in result.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want


def test_hourly_rollup_stream_rocksdb_state(spark, sf_smoke):
    """Same rollup with the RocksDB state store provider: result must be
    identical to the default (HDFS-backed) provider and the batch twin.
    RocksDB is the 100TB posture — state on disk, not executor heap."""
    events = read_events_stream(spark, f"{sf_smoke}/events.parquet")
    result = run_to_memory(
        hourly_rollup_stream(events),
        "hourly_rocksdb_out",
        extra_conf=rocksdb_state_conf(),
    )
    batch = tumbling_window_hourly(spark, sf_smoke)
    got = {tuple(r) for r in result.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want
    # the conf scoping restored the default provider
    assert "RocksDB" not in spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass"
    )


def test_stateful_streams_rocksdb_equals_default(spark, sf_smoke):
    """The big-state paths under RocksDB (r9 verdict #5): streaming dedup
    (one state row per distinct key — the largest state any registered
    stream carries) and session windows must produce byte-identical
    results on either state-store backend; the XL rows/s record lives in
    SCALING_SKEW.jsonl (streaming_xl_rocksdb)."""
    events_path = f"{sf_smoke}/events.parquet"
    for builder, mode in (
        (dedup_events_stream, "append"),
        (session_window_stream, "complete"),
    ):
        default = run_to_memory(
            builder(read_events_stream(spark, events_path)),
            f"{builder.__name__}_default_out",
            output_mode=mode,
        )
        rocks = run_to_memory(
            builder(read_events_stream(spark, events_path)),
            f"{builder.__name__}_rocks_out",
            output_mode=mode,
            extra_conf=rocksdb_state_conf(),
        )
        got = sorted(tuple(r) for r in rocks.collect())
        want = sorted(tuple(r) for r in default.collect())
        assert got == want


def test_session_window_stream_counts(spark, sf_smoke):
    events = read_events_stream(spark, f"{sf_smoke}/events.parquet")
    result = run_to_memory(session_window_stream(events), "session_out")
    rows = result.collect()
    assert rows
    # every event lands in exactly one session
    assert sum(r["n_events"] for r in rows) == 1000
    # session bounds are ordered and per-user
    assert all(r["session_start"] <= r["session_end"] for r in rows)


def test_dedup_stream_matches_batch_distinct(spark, sf_smoke):
    from osm2orc_spark.tables import load

    events = read_events_stream(spark, f"{sf_smoke}/events.parquet")
    result = run_to_memory(
        dedup_events_stream(events), "dedup_out", output_mode="append"
    )
    n_stream = result.count()
    n_batch = (
        load(spark, sf_smoke, "events")
        .dropDuplicates(["user_id", "event_type", "value"])
        .count()
    )
    # single bounded input => stream keeps exactly the batch-distinct keys
    assert n_stream == n_batch


def test_changeset_stream_to_orc(spark, tmp_path):
    """Incremental changeset ingestion: files land in a dir, stream
    parses and appends ORC; result equals the batch reader on the same
    files (reference pipeline made continuous)."""
    import shutil

    from osm2orc_spark.sources.changeset_xml import (
        read_changesets,
        read_changesets_stream,
        stream_changesets_to_orc,
    )

    src = tmp_path / "incoming"
    src.mkdir()
    shutil.copy("fixtures/changesets.osm.xml", src / "batch1.xml")
    out = str(tmp_path / "orc_out")
    q = stream_changesets_to_orc(
        read_changesets_stream(spark, str(src)), out, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
        # a second file arrives -> only the new one is processed
        shutil.copy("fixtures/changesets.osm.xml", src / "batch2.xml")
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.orc(out).drop("_batch_id")
    want = read_changesets(spark, str(src))
    assert got.count() == want.count() == 800
    assert sorted(got.columns) == sorted(want.columns)


def test_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch delivers at-least-once: a batch re-delivered after a
    failure-before-checkpoint must not duplicate rows. The sink's
    dynamic partition overwrite rewrites the batch's own partition."""
    from osm2orc_spark.sources.changeset_xml import (
        read_changesets,
        write_batch_orc,
    )

    df = read_changesets(spark, "fixtures/changesets.osm.xml")
    out = str(tmp_path / "orc_replay")
    write_batch_orc(df, 0, out)
    first = spark.read.orc(out).count()
    write_batch_orc(df, 0, out)  # replay the SAME batch id
    assert spark.read.orc(out).count() == first == 400
    write_batch_orc(df.limit(10), 1, out)  # a genuinely new batch appends
    assert spark.read.orc(out).count() == 410


def test_pbf_stream_matches_batch(spark, tmp_path):
    """Streaming PBF ingestion over a landing dir equals the batch reader."""
    import shutil

    from osm2orc_spark.sources.changeset_xml import stream_changesets_to_orc
    from osm2orc_spark.sources.pbf import read_pbf, read_pbf_stream

    src = tmp_path / "pbf_in"
    src.mkdir()
    shutil.copy("fixtures/tiny.osm.pbf", src / "extract1.pbf")
    out = str(tmp_path / "planet_orc")
    # the foreachBatch ORC sink is format-agnostic — reuse it
    q = stream_changesets_to_orc(
        read_pbf_stream(spark, str(src)), out, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.orc(out).drop("_batch_id")
    want = read_pbf(spark, str(src / "extract1.pbf"))
    assert got.count() == want.count()
    assert sorted(got.columns) == sorted(want.columns)
    # spot-check cell equality (history data: (id, version) is the key)
    g = {
        (r["id"], r["version"]): r
        for r in got.filter("type = 'node'").limit(50).collect()
    }
    w = {
        (r["id"], r["version"]): r
        for r in want.filter("type = 'node'").collect()
        if (r["id"], r["version"]) in g
    }
    assert g.keys() == w.keys()
    assert all(g[k]["lat"] == w[k]["lat"] and g[k]["tags"] == w[k]["tags"] for k in g)


def test_running_user_totals_stateful(spark, sf_smoke):
    from pyspark.sql import functions as F

    from osm2orc_spark.tables import load

    # several micro-batches would need several input files; with one file
    # the operator still exercises init->update->emit of explicit state.
    events = read_events_stream(spark, f"{sf_smoke}/events.parquet")
    result = run_to_memory(
        running_user_totals_stream(events), "totals_out", output_mode="update"
    )
    # last update row per user = final running total
    final = {
        r["user_id"]: r
        for r in result.orderBy("n_events").collect()  # ascending: last wins
    }
    # integer-exact twin: the kernel quantizes to BIGINT micros pre-sum
    batch = {
        r["user_id"]: r
        for r in load(spark, sf_smoke, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 1e6).cast("long")).alias("s_q"),
        )
        .collect()
    }
    assert set(final) == set(batch)
    for uid, b in batch.items():
        assert final[uid]["n_events"] == b["n"]
        assert final[uid]["sum_value_q"] == b["s_q"]


def test_segment_rollup_stream_matches_batch(spark, sf_smoke):
    from osm2orc_spark.streaming.events import segment_rollup_stream
    from osm2orc_spark.tables import load
    from pyspark.sql import functions as F

    events = read_events_stream(spark, f"{sf_smoke}/events.parquet")
    customers = load(spark, sf_smoke, "customer")
    result = run_to_memory(
        segment_rollup_stream(events, customers), "segment_rollup_out"
    )
    batch = (
        load(spark, sf_smoke, "events")
        .join(
            customers.select(F.col("c_custkey").alias("user_id"), "c_mktsegment"),
            "user_id",
        )
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )
    got = {tuple(r) for r in result.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want


def test_cli_watch_once_drains_directory(spark, tmp_path):
    """--watch --once: the CLI's streaming mode drains the landing dir
    and exits; output equals the batch CLI on the same file. Driven
    in-process (the CLI builds its own session via get_spark, which
    getOrCreate()-reuses the test session). Every part file is written
    like the batch CLI's: zlib, with the schema version in its footer."""
    import glob
    import shutil

    import pyarrow.orc as po

    from osm2orc_spark.cli import main

    src = tmp_path / "landing"
    src.mkdir()
    shutil.copy("fixtures/tiny.osm.pbf", src / "a.pbf")
    out = str(tmp_path / "watch_orc")
    assert main(["--watch", "--once", str(src), out]) == 0
    got = spark.read.orc(out)
    assert got.count() == 1788
    assert "_batch_id" in got.columns
    parts = glob.glob(out + "/_batch_id=*/*.orc")
    assert parts
    for f in parts:
        assert po.ORCFile(f).metadata[b"osm.schema.version"] == b"0.6"
        assert po.ORCFile(f).compression == "ZLIB"


def test_user_totals_query_reduces_multi_batch_input(spark, sf_smoke, tmp_path):
    """The registered stream_user_totals must be correct when the bounded
    input arrives as SEVERAL files -> several micro-batches (the memory
    sink then holds multiple update rows per user; the query reduces to
    the final state instead of assuming one batch)."""
    from pyspark.sql import functions as F

    from osm2orc_spark.registry import all_queries
    from osm2orc_spark.tables import load

    # split events into 3 parquet files in a fresh sf-shaped directory
    src = load(spark, sf_smoke, "events")
    sf_dir = tmp_path / "sf_multi"
    src.repartition(3).write.parquet(str(sf_dir / "events.parquet"))

    out = {
        r["user_id"]: r
        for r in all_queries()["stream_user_totals"].fn(spark, str(sf_dir)).collect()
    }
    batch = {
        r["user_id"]: r
        for r in src.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 1e6).cast("long")).alias("s_q"),
        )
        .collect()
    }
    assert set(out) == set(batch)
    for uid, b in batch.items():
        assert out[uid]["n_events"] == b["n"]
        assert out[uid]["sum_value_q"] == b["s_q"]


def _slice_events_into_files(spark, sf_smoke, sf_dir):
    """Split the bounded events table into THREE time-ordered parquet
    files under ``sf_dir/events.parquet`` with staggered mtimes (the
    FileStreamSource orders a fresh listing by modification time, so the
    slices arrive oldest-first, one per trigger).  Returns the two cut
    timestamps."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    from osm2orc_spark.tables import load

    src = load(spark, sf_smoke, "events")
    lo, hi = src.agg(F.min("ts"), F.max("ts")).first()
    cut1 = lo + (hi - lo) / 3
    cut2 = lo + 2 * (hi - lo) / 3
    ev_dir = sf_dir / "events.parquet"
    slices = [
        src.filter(F.col("ts") <= F.lit(cut1)),
        src.filter((F.col("ts") > F.lit(cut1)) & (F.col("ts") <= F.lit(cut2))),
        src.filter(F.col("ts") > F.lit(cut2)),
    ]
    for i, sl in enumerate(slices):
        part = sf_dir / f"slice{i}"
        sl.coalesce(1).write.parquet(str(part))
        [pq] = [f for f in os.listdir(part) if f.endswith(".parquet")]
        ev_dir.mkdir(exist_ok=True, parents=True)
        dst = ev_dir / f"{i}.parquet"
        os.rename(part / pq, dst)
        t = _time.time() - 300 + i * 60
        os.utime(dst, (t, t))
    return cut1, cut2


def test_scd2_stream_closes_intervals_across_batches(spark, sf_smoke, tmp_path):
    """stream_scd2_intervals carries the open interval in state across
    micro-batch boundaries: with the bounded input split into THREE
    time-sliced files (delivered oldest-first via staggered mtimes), the
    emitted closed intervals must still equal the batch derivation —
    including intervals that span a batch boundary."""
    from osm2orc_spark.registry import all_queries

    sf_dir = tmp_path / "sf_sliced"
    _slice_events_into_files(spark, sf_smoke, sf_dir)

    q = all_queries()["stream_scd2_intervals"]
    df = q.fn(spark, str(sf_dir))
    # the sliced dir only has events.parquet -> register just that view
    import duckdb

    from tests.oracle_harness import _normalize

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet/*.parquet')"
    )
    ddf = con.sql(q.oracle).df()
    spdf = df.toPandas()
    assert len(spdf) == len(ddf)
    assert _normalize(spdf) == _normalize(ddf)


def test_scd2_stream_restart_from_checkpoint(spark, sf_smoke, tmp_path):
    """TRUE stop/restart recovery (r10 verdict #5): a RocksDB
    changelog-checkpointed SCD2 stream processes files 1-2 into a
    durable parquet sink, STOPS, and a brand-new query object — a fresh
    readStream graph, same checkpoint dir — processes file 3.  The
    union of sink output must equal the uninterrupted batch twin
    exactly: no interval lost (the open interval at the stop boundary
    must be restored from the state store, not re-derived from zero)
    and none duplicated (the sink commit log is exactly-once across the
    boundary).  This is the recovery semantics a 100 TB deployment
    leans on; the multi-batch test above only covers state hand-off
    inside one query lifetime."""
    import os

    import duckdb
    import pandas as pd

    from osm2orc_spark.registry import all_queries
    from osm2orc_spark.streaming.events import (
        read_events_stream,
        rocksdb_state_conf,
        run_checkpointed,
        scd2_intervals_stream,
    )
    from tests.oracle_harness import _normalize

    full_dir = tmp_path / "sf_full"
    cut1, cut2 = _slice_events_into_files(spark, sf_smoke, full_dir)
    # phase-1 source dir holds only slices 0 and 1; slice 2 arrives
    # after the stop (hardlink so mtimes are preserved)
    live_dir = tmp_path / "sf_live"
    ev_live = live_dir / "events.parquet"
    ev_live.mkdir(parents=True)
    for i in (0, 1):
        os.link(full_dir / "events.parquet" / f"{i}.parquet", ev_live / f"{i}.parquet")

    out_dir = str(tmp_path / "scd2_out")
    ckpt = str(tmp_path / "scd2_ckpt")

    def run_phase():
        ev = read_events_stream(spark, str(ev_live))
        run_checkpointed(
            scd2_intervals_stream(ev, output_mode="append"),
            out_dir,
            ckpt,
            extra_conf=rocksdb_state_conf(),
        )

    run_phase()
    phase1_rows = spark.read.parquet(out_dir).count()
    os.link(full_dir / "events.parquet" / "2.parquet", ev_live / "2.parquet")
    run_phase()  # NEW query object, same checkpoint dir

    got = spark.read.parquet(out_dir).toPandas()
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{full_dir}/events.parquet/*.parquet')"
    )
    exp = con.sql(all_queries()["stream_scd2_intervals"].oracle).df()
    assert len(got) == len(exp)
    assert _normalize(got[exp.columns.tolist()]) == _normalize(exp)
    # the recovery actually mattered: phase 2 appended rows, and at
    # least one of them is an interval OPENED before the stop boundary
    # and closed after it — i.e. reconstructed from recovered state
    assert phase1_rows < len(got)
    cross = exp[
        (pd.to_datetime(exp["valid_from"]) <= cut2)
        & (pd.to_datetime(exp["valid_to"]) > cut2)
    ]
    assert len(cross) > 0


def test_pbf_stream_carries_changeset_entities(spark, tmp_path):
    """ChangeSet entities (PrimitiveGroup field 5, the reference TODO's
    entity-table half) flow through the STREAMING ingest path too — the
    landing-dir reader shares decode_primitive_block_arrow with batch,
    whose Arrow fast path falls back to the dict route for this entity
    kind."""
    import shutil
    from decimal import Decimal

    from osm2orc_spark.sources.changeset_xml import stream_changesets_to_orc
    from osm2orc_spark.sources.pbf import read_pbf_stream

    src = tmp_path / "pbf_in"
    src.mkdir()
    shutil.copy("fixtures/tiny_cs.osm.pbf", src / "mixed1.pbf")
    out = str(tmp_path / "planet_cs_orc")
    q = stream_changesets_to_orc(
        read_pbf_stream(spark, str(src)), out, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.orc(out).drop("_batch_id")
    assert got.count() == 213
    cs = got.filter("type = 'changeset'").collect()
    assert len(cs) == 25
    for r in cs:
        assert r.lat == Decimal("0E-7") and r.lon == Decimal("0E-7")
        assert r.tags == {} and r.uid is None and r.visible is True
