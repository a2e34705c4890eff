"""Streaming-layer tests: changelog upsert, windowed density, stream-
static spatial join — driven by the file source against temp parquet
(no Kafka broker offline; the operators are source-agnostic)."""

import os

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from geomesa_spark.streaming import live


@pytest.fixture(scope="module")
def change_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("changes")
    pdf = pd.DataFrame(
        {
            "feature_id": ["f1", "f2", "f1", "f3", "f2", "f1"],
            "ts": pd.to_datetime(
                [
                    "2026-01-01 00:00:00",
                    "2026-01-01 00:00:10",
                    "2026-01-01 00:00:20",  # f1 moves
                    "2026-01-01 00:00:30",
                    "2026-01-01 00:00:40",  # f2 delete (below)
                    "2026-01-01 00:00:05",  # f1 LATE event — must not win
                ]
            ),
            "lon": [10.0, 20.0, 11.0, 30.0, 0.0, 99.0],
            "lat": [10.0, 20.0, 11.0, 30.0, 0.0, 99.0],
            "op": ["insert", "insert", "update", "insert", "delete", "update"],
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(str(d / "p"))
    return str(d / "p")


def _read_stream(spark, path, schema):
    return spark.readStream.schema(schema).parquet(path)


def test_changelog_upsert_latest_wins(spark, change_dir):
    schema = "feature_id string, ts timestamp, lon double, lat double, op string"
    stream = _read_stream(spark, change_dir, schema)
    out = live.run_batches(live.changelog_upsert(stream), "upserts", spark, "update")
    pdf = out.toPandas()
    live_rows = pdf[pdf["op"] == "upsert"].set_index("feature_id")
    # f1: latest EVENT time (00:00:20) wins over the late 00:00:05 record
    assert live_rows.loc["f1", "lon"] == 11.0
    assert live_rows.loc["f3", "lon"] == 30.0
    # f2 was deleted
    assert "f2" not in live_rows.index


def test_changelog_upsert_event_time_ttl(spark, tmp_path):
    """Age-off: a feature expires ttl seconds after its event time, fired
    once the watermark (driven by later batches) passes the deadline."""
    d = tmp_path / "ttl"
    d.mkdir()
    schema = "feature_id string, ts timestamp, lon double, lat double, op string"

    def write(name, fid, ts):
        pdf = pd.DataFrame(
            {"feature_id": [fid], "ts": [pd.Timestamp(ts)], "lon": [1.0], "lat": [1.0],
             "op": ["insert"]}
        )
        spark.createDataFrame(pdf).coalesce(1).write.parquet(str(d / name))

    write("f1", "old", "2026-01-01 00:00:00")
    write("f2", "mid", "2026-01-01 02:00:00")
    write("f3", "new", "2026-01-01 04:00:00")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "*"))
    )
    out = live.run_batches(
        live.changelog_upsert(stream, ttl_seconds=60, watermark="1 minute"),
        "ttl_upserts", spark, "update",
    )
    pdf = out.toPandas()
    expired = set(pdf[pdf["op"] == "expire"]["feature_id"])
    upserted = set(pdf[pdf["op"] == "upsert"]["feature_id"])
    assert "old" in expired  # watermark moved hours past old's deadline
    assert {"old", "mid", "new"} <= upserted


def test_live_cell_counts_windows(spark, tmp_path):
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2026-01-01 00:01:00", "2026-01-01 00:02:00", "2026-01-01 00:07:00"]
            ),
            "lon": [15.0, 15.0, 15.0],
            "lat": [15.0, 15.0, 15.0],
        }
    )
    p = str(tmp_path / "pts")
    spark.createDataFrame(pdf).write.parquet(p)
    stream = _read_stream(spark, p, "ts timestamp, lon double, lat double")
    # append mode emits a window only once the watermark passes its end:
    # max event time 00:07 − 1 min watermark = 00:06 closes [00:00, 00:05)
    # but not [00:05, 00:10) — exactly one closed window with both points
    out = live.run_batches(
        live.live_cell_counts(stream, res=6, watermark="1 minute"), "cellcounts", spark, "append"
    )
    rows = out.orderBy("window_start").collect()
    assert len(rows) == 1
    assert rows[0]["n"] == 2
    # update mode shows the still-open window too (running counts)
    out2 = live.run_batches(
        live.live_cell_counts(stream, res=6, watermark="1 minute"), "cellcounts_u", spark, "update"
    )
    rows2 = out2.orderBy("window_start").collect()
    assert len(rows2) == 2 and {r["n"] for r in rows2} == {1, 2}
    assert rows2[0]["cell"] == rows2[1]["cell"]


def test_stream_static_spatial_join(spark, tmp_path):
    pdf = pd.DataFrame(
        {
            "event_id": ["e1", "e2", "e3", "e4"],
            "ts": pd.to_datetime(["2026-01-01"] * 4),
            "lon": [15.0, 50.0, 0.0, 20.0],
            "lat": [15.0, 0.0, 0.0, 12.5],  # e4 on P1's east edge
        }
    )
    p = str(tmp_path / "live")
    spark.createDataFrame(pdf).write.parquet(p)
    stream = _read_stream(spark, p, "event_id string, ts timestamp, lon double, lat double")
    polys = [
        dict(polygon_id="P1", wkt="POLYGON((10 10, 20 10, 20 20, 10 20, 10 10))"),
        dict(polygon_id="P5", wkt="POLYGON((45 -5, 55 -5, 58 2, 50 8, 42 2, 45 -5))"),
    ]
    out = live.run_batches(
        live.stream_static_spatial_join(stream, polys), "livejoin", spark, "append"
    )
    got = {(r["event_id"], r["polygon_id"]) for r in out.collect()}
    assert got == {("e1", "P1"), ("e2", "P5"), ("e4", "P1")}


def test_session_windows(spark, tmp_path):
    pdf = pd.DataFrame(
        {
            "track_id": ["t1"] * 4 + ["t2"],
            "ts": pd.to_datetime(
                ["2026-01-01 00:00:00", "2026-01-01 00:05:00",  # session 1
                 "2026-01-01 02:00:00", "2026-01-01 02:10:00",  # session 2
                 "2026-01-01 00:00:00"]
            ),
            "lon": [1.0] * 5,
            "lat": [1.0] * 5,
        }
    )
    p = str(tmp_path / "sess")
    spark.createDataFrame(pdf).write.parquet(p)
    stream = _read_stream(spark, p, "track_id string, ts timestamp, lon double, lat double")
    out = live.run_batches(
        live.session_windows(stream, gap="30 minutes", watermark="1 minute"),
        "sessions", spark, "append",
    )
    rows = out.orderBy("track_id", "session_start").collect()
    # watermark (max ts 02:10 - 1min) closes t1's first session and t2's;
    # t1's second session [02:00, 02:40) stays open in append mode
    got = {(r["track_id"], r["n_points"]) for r in rows}
    assert ("t1", 2) in got and ("t2", 1) in got


def test_persist_stream_lambda_tier(spark, tmp_path):
    from geomesa_spark.plans import lineage

    pdf = pd.DataFrame(
        {
            "feature_id": [f"f{i}" for i in range(50)],
            "ts": pd.to_datetime(["2026-01-01"] * 50),
            "lon": np.linspace(-170, 170, 50),
            "lat": np.linspace(-80, 80, 50),
        }
    )
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf).write.parquet(src)
    stream = _read_stream(
        spark, src, "feature_id string, ts timestamp, lon double, lat double"
    )
    job = str(tmp_path / "job")
    q = live.persist_stream(stream, job, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    out = lineage.read_job_output(spark, job)
    assert out.count() == 50
    m = lineage.job_metrics(job)
    assert m["n_rows"].sum() == 50 and (m["cell_min"] <= m["cell_max"]).all()


def test_persist_stream_multi_epoch_same_bucket(spark, tmp_path):
    """Regression (round-1 advice): rows from a later epoch landing in a
    cell_bucket committed by an earlier epoch must APPEND, not be dropped
    by the resume anti-join."""
    from geomesa_spark.plans import lineage

    schema = "feature_id string, ts timestamp, lon double, lat double"
    src = str(tmp_path / "src")
    os.makedirs(src)
    # two files → with maxFilesPerTrigger=1 the file source yields two
    # epochs; identical coordinates → identical cell_buckets across epochs
    for i in range(2):
        pdf = pd.DataFrame(
            {
                "feature_id": [f"e{i}_f{j}" for j in range(5)],
                "ts": pd.to_datetime(["2026-01-01"] * 5),
                "lon": [10.0, 20.0, 30.0, 40.0, 50.0],
                "lat": [10.0, 20.0, 30.0, 40.0, 50.0],
            }
        )
        spark.createDataFrame(pdf).coalesce(1).write.parquet(str(tmp_path / f"f{i}"))
        pq = [f for f in os.listdir(str(tmp_path / f"f{i}")) if f.endswith(".parquet")][0]
        os.rename(os.path.join(str(tmp_path / f"f{i}"), pq), os.path.join(src, f"file{i}.parquet"))
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    job = str(tmp_path / "job")
    q = live.persist_stream(stream, job, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    out = lineage.read_job_output(spark, job)
    assert out.count() == 10, "later-epoch rows in an already-committed bucket were lost"
    assert out.select("feature_id").distinct().count() == 10
    m = lineage.job_metrics(job)
    assert m["n_rows"].sum() == 10 and set(m["epoch"]) == {0, 1}


def test_persist_stream_replayed_epoch_writes_no_duplicates(spark, tmp_path):
    """A failure after the sink committed an epoch's lineage but before the
    checkpoint committed the epoch replays it on restart: drop the last
    commit marker, restart, and the job output and lineage metrics are
    unchanged, with every feature_id once."""
    from geomesa_spark.plans import lineage

    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        pdf = pd.DataFrame({
            "feature_id": [f"e{i}_f{j}" for j in range(20)],
            "ts": pd.to_datetime(["2026-01-01"] * 20),
            "lon": np.linspace(-170, 170, 20),
            "lat": np.linspace(-80, 80, 20),
        })
        spark.createDataFrame(pdf).coalesce(1).write.parquet(str(src / f"f{i}"))
    job, ck = str(tmp_path / "job"), tmp_path / "ck"

    def run():
        stream = (
            spark.readStream.schema("feature_id string, ts timestamp, lon double, lat double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        live.persist_stream(stream, job, str(ck)).awaitTermination(120)
        rows = sorted(map(tuple, lineage.read_job_output(spark, job).collect()))
        m = lineage.job_metrics(job).sort_values(["epoch", "cell_bucket", "shard"])
        return rows, m.reset_index(drop=True)

    first, m1 = run()
    last = max(int(p.name) for p in (ck / "commits").iterdir() if p.name.isdigit())
    assert last == 2 and set(m1["epoch"]) == {0, 1, 2}
    for p in (ck / "commits").iterdir():
        if p.name in (str(last), f".{last}.crc"):
            p.unlink()
    again, m2 = run()
    assert (ck / "commits" / str(last)).exists()  # the epoch ran again
    assert again == first and len(first) == 60
    pd.testing.assert_frame_equal(m2, m1)
    ids = [r["feature_id"] for r in lineage.read_job_output(spark, job).collect()]
    assert len(ids) == len(set(ids))


class TestRestartResume:
    """Round-5 verdict item 7: kill/restart between micro-batches with the
    HDFS-backed state store (no RocksDB) — the resumed run must restore
    BOTH the source offsets and the stateful-operator state, ending in a
    view identical to a clean no-restart run."""

    @staticmethod
    def _msg(fid, ts, lon, lat, op):
        return {"feature_id": fid, "ts": ts, "lon": lon, "lat": lat, "op": op}

    PART1 = [
        ("f1", "2026-01-01 00:00:20", 11.0, 11.0, "insert"),
        ("f2", "2026-01-01 00:00:10", 20.0, 20.0, "insert"),
        ("f3", "2026-01-01 00:00:00", 30.0, 30.0, "insert"),
    ]
    PART2 = [
        # LATE update for f1 (event time BEFORE the stored version): the
        # restored state must win — if the restart lost state, this row
        # would be the only candidate and 99.0 would leak into the view
        ("f1", "2026-01-01 00:00:05", 99.0, 99.0, "update"),
        ("f2", "2026-01-01 00:00:30", None, None, "delete"),
        ("f4", "2026-01-01 00:00:40", 40.0, 40.0, "insert"),
        ("f3", "2026-01-01 00:00:50", 31.0, 31.0, "update"),
    ]

    def _write(self, d, seq, rows):
        from geomesa_spark.sources import datasource

        datasource.write_changelog_batch(
            d, seq, [self._msg(*r) for r in rows]
        )

    def _run_upsert(self, spark, log_dir, ckpt, out):
        stream = live.changelog_dir_source(spark, log_dir)
        ups = live.changelog_upsert(stream)

        def sink(bdf, eid):
            if not bdf.isEmpty():
                bdf.withColumn("epoch", F.lit(eid)).write.mode("append").parquet(out)

        q = (
            ups.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    def _view(self, spark, out):
        pdf = spark.read.parquet(out).toPandas()
        last = pdf.sort_values("epoch", kind="mergesort").groupby("feature_id").tail(1)
        liv = last[last["op"] == "upsert"]
        return {
            r.feature_id: (r.ts, r.lon, r.lat) for r in liv.itertuples()
        }

    def test_upsert_restart_view_identical_and_state_restored(self, spark, tmp_path):
        # clean one-shot run over the full log
        clean_log = str(tmp_path / "clean_log")
        self._write(clean_log, 0, self.PART1)
        self._write(clean_log, 1, self.PART2)
        clean_out = str(tmp_path / "clean_out")
        self._run_upsert(spark, clean_log, str(tmp_path / "clean_ckpt"), clean_out)
        want = self._view(spark, clean_out)

        # restart run: part 1 → stop (the kill) → append part 2 → resume
        log = str(tmp_path / "log")
        ckpt = str(tmp_path / "ckpt")
        out = str(tmp_path / "out")
        self._write(log, 0, self.PART1)
        self._run_upsert(spark, log, ckpt, out)
        mid = self._view(spark, out)
        assert set(mid) == {"f1", "f2", "f3"}
        self._write(log, 1, self.PART2)
        self._run_upsert(spark, log, ckpt, out)
        got = self._view(spark, out)

        assert got == want
        assert set(got) == {"f1", "f3", "f4"}  # f2 deleted
        # the state-restoration probe: restored ts 00:00:20 beats the late row
        assert got["f1"][1] == 11.0 and got["f1"][2] == 11.0
        assert got["f3"][1] == 31.0

    def test_live_spatial_join_restart_matches_clean_run(self, spark, tmp_path):
        """The live spatial index (stream_static_spatial_join) driven by
        the geomesa_changelog source across a kill/restart: matched set
        equals the clean no-restart run."""
        polys = [dict(polygon_id="east", wkt="POLYGON((25 25, 45 25, 45 55, 25 55, 25 25))")]

        def run(log_dir, ckpt, out):
            stream = live.changelog_dir_source(spark, log_dir).filter(
                F.col("lon").isNotNull()
            )
            joined = live.stream_static_spatial_join(stream, polys, res=6)
            q = (
                joined.writeStream.outputMode("append")
                .format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.processAllAvailable()
            q.stop()
            return spark.read.parquet(out).toPandas()

        clean_log = str(tmp_path / "jclean_log")
        self._write(clean_log, 0, self.PART1)
        self._write(clean_log, 1, self.PART2)
        want = run(clean_log, str(tmp_path / "jclean_ckpt"), str(tmp_path / "jclean_out"))

        log = str(tmp_path / "jlog")
        ckpt = str(tmp_path / "jckpt")
        out = str(tmp_path / "jout")
        self._write(log, 0, self.PART1)
        first = run(log, ckpt, out)
        assert set(first["feature_id"]) == {"f3"}  # only (30,30) inside
        self._write(log, 1, self.PART2)
        got = run(log, ckpt, out)

        key = lambda df: sorted(zip(df["feature_id"], df["lon"], df["lat"]))  # noqa: E731
        assert key(got) == key(want)
        # f3's part-2 position (31,31) and f4 (40,40) joined on resume;
        # part-1 rows were NOT reprocessed (no duplicate f3@30,30 rows)
        assert sorted(got["feature_id"]) == ["f3", "f3", "f4"]


def test_cms_frequencies_bounds(spark):
    """CMS property test: estimate >= exact and <= exact + eps*N."""
    from geomesa_spark.operators import sketches

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    exact = {r[0]: r[1] for r in ev.groupBy("event_type").count().collect()}
    n = sum(exact.values())
    est = {r[0]: r[1] for r in sketches.cms_frequencies(ev, "event_type", eps=0.01).collect()}
    for k, e in est.items():
        assert exact[k] <= e <= exact[k] + 0.01 * n + 1
    # tight sketch: exact
    est2 = {r[0]: r[1] for r in sketches.cms_frequencies(ev, "event_type").collect()}
    assert est2 == exact


def test_cms_frequencies_default_items_bounded(spark):
    """items=None collects at most MAX_DISTINCT_ITEMS distinct values and
    fails loudly above that; explicit items= are not bounded."""
    from geomesa_spark.operators import sketches

    bound = sketches.MAX_DISTINCT_ITEMS

    def keys(n):
        return spark.range(n).selectExpr("CAST(id AS STRING) AS k")

    est = sketches.cms_frequencies(keys(bound), "k").collect()
    assert len(est) == bound and all(r["est_n"] >= 1 for r in est)
    with pytest.raises(ValueError, match="items="):
        sketches.cms_frequencies(keys(bound + 1), "k")
    got = sketches.cms_frequencies(keys(bound + 1), "k", items=["0", str(bound)])
    assert [r["est_n"] for r in got.collect()] == [1, 1]
    # the result is a LocalRelation, not a Python-RDD scan
    assert "ExistingRDD" not in got._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------- dedup


def test_stream_dedup_exact_within_watermark(spark, tmp_path):
    from geomesa_spark.streaming import dedup_stream as ds

    pdf = pd.DataFrame(
        {
            "doc_id": ["a", "b", "c", "d"],
            "text": [
                "same  content\there",   # normalizes equal to b
                "same content here",
                "different content",
                "same content here",     # third copy
            ],
            "ts": pd.to_datetime(
                ["2026-01-01 00:00:00", "2026-01-01 00:00:01",
                 "2026-01-01 00:00:02", "2026-01-01 00:00:03"]
            ),
        }
    )
    p = str(tmp_path / "docs")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(p)
    stream = spark.readStream.schema("doc_id string, text string, ts timestamp").parquet(p)
    out = live.run_batches(
        ds.stream_dedup_exact(stream, delay="10 minutes"), "sdedup", spark
    ).toPandas()
    # one survivor per content class: {a,b,d} collapse to one row, c survives
    assert len(out) == 2
    ids = set(out["doc_id"])
    assert "c" in ids and ids & {"a", "b", "d"}


def test_stream_near_dup_cross_batch_state(spark, tmp_path):
    """A doc arriving in a LATER micro-batch must match a doc from an
    earlier one (state carries across batches), and intra-batch pairs
    emit too; unrelated docs never match."""
    from geomesa_spark.streaming import dedup_stream as ds

    d = tmp_path / "nd"
    d.mkdir()
    base = (
        "the quick brown fox jumps over the lazy dog while many other "
        "animals watch from the safety of the deep green forest nearby"
    )
    # one-token ADDITIONS keep the md5-simhash close (precomputed with the
    # hashlib twin of simhash_values_jvm: orig-near1 = 1 bit, orig-near2 =
    # 2, near1-near2 = 3 — all within max_hamming=3; a one-word
    # SUBSTITUTION on this doc moves 5-8 bits and would not match)
    batches = {
        # batch 1: original + intra-batch near-copy
        "b1": pd.DataFrame(
            {
                "doc_id": ["orig", "near1"],
                "text": [base, base + " today"],
                "ts": pd.to_datetime(["2026-01-01 00:00:00", "2026-01-01 00:00:05"]),
            }
        ),
        # batch 2: another near-copy + an unrelated doc (29+ bits away)
        "b2": pd.DataFrame(
            {
                "doc_id": ["near2", "other"],
                "text": [
                    base + " now",
                    "completely unrelated text about spark query engines and "
                    "columnar formats with nothing shared at all in any way",
                ],
                "ts": pd.to_datetime(["2026-01-01 00:01:00", "2026-01-01 00:01:01"]),
            }
        ),
    }
    for name, pdf in batches.items():
        spark.createDataFrame(pdf).coalesce(1).write.parquet(str(d / name))
    stream = (
        spark.readStream.schema("doc_id string, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "*"))
    )
    out = live.run_batches(
        ds.stream_near_dup(stream, n_bits=64, n_blocks=8, max_hamming=3),
        "sneardup", spark,
    ).toPandas()
    pairs = set(map(tuple, out[["doc_id", "match_id"]].drop_duplicates().values))
    assert ("near1", "orig") in pairs                     # intra-batch
    assert ("near2", "orig") in pairs and ("near2", "near1") in pairs  # cross-batch
    assert all("other" not in p for p in pairs)
    # per-pair hamming is consistent across duplicate block emissions
    g = out.groupby(["doc_id", "match_id"])["hamming"].nunique()
    assert (g == 1).all()


def test_stream_near_dup_ttl_expires_state(spark, tmp_path):
    """A near-copy arriving past the TTL horizon must NOT match."""
    from geomesa_spark.streaming import dedup_stream as ds

    d = tmp_path / "ttl_nd"
    d.mkdir()
    base = (
        "the quick brown fox jumps over the lazy dog while many other "
        "animals watch from the safety of the deep green forest nearby"
    )
    b1 = pd.DataFrame(
        {"doc_id": ["orig"], "text": [base],
         "ts": pd.to_datetime(["2026-01-01 00:00:00"])}
    )
    b2 = pd.DataFrame(
        # " today" suffix = hamming 1 from orig (see cross-batch test): it
        # WOULD match — only the TTL horizon prevents it
        {"doc_id": ["late_copy"], "text": [base + " today"],
         "ts": pd.to_datetime(["2026-01-01 02:00:00"])}  # 2h later, TTL 60m
    )
    spark.createDataFrame(b1).coalesce(1).write.parquet(str(d / "b1"))
    spark.createDataFrame(b2).coalesce(1).write.parquet(str(d / "b2"))
    stream = (
        spark.readStream.schema("doc_id string, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "*"))
    )
    out = live.run_batches(
        ds.stream_near_dup(stream, ttl_minutes=60), "sneardup_ttl", spark
    ).toPandas()
    assert len(out) == 0


def test_stream_hotspots_matches_batch_gi(spark, tmp_path):
    """Streaming Gi*: windows finalize across DIFFERENT micro-batches
    (maxFilesPerTrigger=1 + a sentinel advancing the watermark), and
    every emitted window's z-scores equal the BATCH getis_ord_gi run on
    that window's slice of the same points."""
    import numpy as np

    from geomesa_spark.operators import autocorr

    rng = np.random.default_rng(17)
    base = pd.Timestamp("2026-02-01 00:00:00")

    def mk(hour, n_blob, n_bg):
        lon = np.concatenate(
            [rng.normal(10.0, 1.5, n_blob), rng.uniform(-170, 170, n_bg)]
        )
        lat = np.concatenate(
            [rng.normal(15.0, 1.0, n_blob), rng.uniform(-80, 80, n_bg)]
        )
        ts = [
            base + pd.Timedelta(hours=hour, minutes=int(m))
            for m in rng.integers(0, 59, n_blob + n_bg)
        ]
        return pd.DataFrame({"ts": ts, "lon": lon, "lat": lat})

    w0, w1 = mk(0, 120, 300), mk(1, 40, 300)
    sentinel = pd.DataFrame(
        {"ts": [base + pd.Timedelta(hours=4)], "lon": [0.0], "lat": [0.0]}
    )
    src = tmp_path / "src"
    src.mkdir()
    for i, pdf in enumerate((w0, w1, sentinel)):
        spark.createDataFrame(pdf).coalesce(1).write.parquet(str(src / f"f{i}"))
    stream = (
        spark.readStream.schema("ts timestamp, lon double, lat double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = str(tmp_path / "gi_out")
    q = live.stream_hotspots(
        stream, out, str(tmp_path / "ck"), res=4, window="1 hour",
        watermark="30 minutes",
    )
    q.awaitTermination()
    got = spark.read.parquet(out).collect()
    winds = {r["window_start"] for r in got}
    # both real windows finalized; the sentinel's own window never closed
    assert winds == {base.to_pydatetime(), (base + pd.Timedelta(hours=1)).to_pydatetime()}
    for hour, pdf in ((0, w0), (1, w1)):
        batch = {
            r["cell_key"]: r
            for r in autocorr.getis_ord_gi(spark.createDataFrame(pdf), res=4).collect()
        }
        ws = (base + pd.Timedelta(hours=hour)).to_pydatetime()
        streamed = {r["cell_key"]: r for r in got if r["window_start"] == ws}
        assert set(streamed) == set(batch)
        for k, r in streamed.items():
            b = batch[k]
            assert (r["x"], r["k_i"], r["w_i"], r["gi_z_x1e6"]) == (
                b["x"], b["k_i"], b["w_i"], b["gi_z_x1e6"],
            )
    # the dense blob cell is hot in window 0
    cx = int((10.0 + 180.0) / 360.0 * 16)
    cy = int((15.0 + 90.0) / 180.0 * 16)
    blob = [
        r for r in got
        if r["window_start"] == base.to_pydatetime() and r["cell_key"] == ((cx << 4) | cy)
    ]
    assert blob and blob[0]["gi_z_x1e6"] > 2_000_000


def test_stream_hotspots_replayed_epoch_writes_no_duplicates(spark, tmp_path):
    """A failure after the sink wrote an epoch but before the checkpoint
    committed it replays that epoch on restart: drop the last commit
    marker, restart, and every (window_start, cell_key) still appears
    once, with the replayed epoch's rows unchanged."""
    rng = np.random.default_rng(5)
    base = pd.Timestamp("2026-03-01 00:00:00")
    src = tmp_path / "src"
    src.mkdir()
    for i, hour in enumerate((0, 1, 4)):
        n = 200 if hour < 4 else 1
        pdf = pd.DataFrame({
            "ts": [base + pd.Timedelta(hours=hour, minutes=int(m)) for m in rng.integers(0, 59, n)],
            "lon": rng.uniform(-170, 170, n),
            "lat": rng.uniform(-80, 80, n),
        })
        spark.createDataFrame(pdf).coalesce(1).write.parquet(str(src / f"f{i}"))
    out, ck = str(tmp_path / "gi_out"), tmp_path / "ck"

    def run():
        stream = (
            spark.readStream.schema("ts timestamp, lon double, lat double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        live.stream_hotspots(
            stream, out, str(ck), res=4, window="1 hour", watermark="30 minutes",
        ).awaitTermination()
        cols = ("window_start", "cell_key", "x", "k_i", "w_i", "gi_z_x1e6")
        return sorted(map(tuple, spark.read.parquet(out).select(*cols).collect()))

    first = run()
    last = max(int(p.name) for p in (ck / "commits").iterdir() if p.name.isdigit())
    assert (tmp_path / "gi_out" / f"epoch={last}").is_dir()  # the epoch wrote rows
    for p in (ck / "commits").iterdir():
        if p.name in (str(last), f".{last}.crc"):
            p.unlink()
    assert run() == first
    keys = [(r[0], r[1]) for r in first]
    assert len(keys) == len(set(keys)) and len({k[0] for k in keys}) == 2
