"""Multimodal plumbing (stubbed decode, real Spark dataflow) and the
Structured Streaming surface (stateless extract, watermarked metrics,
stateful token bucket)."""

import os
import shutil

import pytest

from upton_spark.operators import multimodal
from upton_spark.sources.fixtures import fixture_pages


class TestMultimodal:
    def test_decode_and_featurize_shapes(self, spark):
        media = multimodal.synth_media(spark, 24)
        feats = multimodal.decode_and_featurize(media, resize_to=(4, 4)).collect()
        assert len(feats) == 24
        for r in feats:
            assert len(r["feature"]) == 16
            assert 0.0 <= r["mean_intensity"] <= 1.0
            assert r["n_bytes"] > 0

    def test_decode_is_deterministic(self, spark):
        media = multimodal.synth_media(spark, 8)
        a = {r["asset_id"]: r["feature"] for r in multimodal.decode_and_featurize(media).collect()}
        b = {r["asset_id"]: r["feature"] for r in multimodal.decode_and_featurize(media).collect()}
        assert a == b

    def test_frame_sampling_counts(self, spark):
        media = multimodal.synth_media(spark, 9)
        frames = multimodal.frame_sample(media, every_ms=1000)
        counts = {r["asset_id"]: r["n"] for r in frames.groupBy("asset_id").count().withColumnRenamed("count", "n").collect()}
        durations = {r["asset_id"]: r["meta"]["duration_ms"] for r in media.collect()}
        for aid, n in counts.items():
            assert n == (durations[aid] - 1) // 1000 + 1

    def test_decoder_stub_gate(self, spark, monkeypatch):
        if multimodal.decoder_available("mp4"):
            pytest.skip("real decoder present for every format")
        # synth media mixes png/wav/mp4; png (vendored codec) and wav
        # (stdlib wave) decode for real, so requiring real decode must fail
        # eagerly naming exactly the remaining gap
        media = multimodal.synth_media(spark, 3)
        monkeypatch.setenv("UPTON_SPARK_REQUIRE_DECODER", "1")
        with pytest.raises(NotImplementedError, match=r"\['mp4'\]"):
            multimodal.decode_and_featurize(media)

    def test_real_png_decode_end_to_end(self, spark):
        """decoder_available()==True branch on real bytes: grayscale PNGs
        written by the vendored encoder flow through decode_and_featurize
        with decoder='real', and the features match the source pixels."""
        import numpy as np

        from upton_spark.operators.png_codec import encode_png

        rng = np.random.default_rng(11)
        rows, want = [], {}
        for i in range(6):
            px = rng.integers(0, 256, size=(8, 8), dtype=np.uint8)
            want[i] = float(px.mean() / 255.0)
            rows.append(
                (i, f"http://media.example.org/image/{i}", encode_png(px),
                 ("image", "png", 8, 8, None))
            )
        media = spark.createDataFrame(rows, schema=multimodal.MEDIA)
        feats = {
            r["asset_id"]: r
            for r in multimodal.decode_and_featurize(
                media, resize_to=(8, 8), decoder="real"
            ).collect()
        }
        assert len(feats) == 6
        for i, m in want.items():
            assert abs(feats[i]["mean_intensity"] - m) < 1e-6
            assert len(feats[i]["feature"]) == 64

    def test_fake_decode_batch_matches_scalar(self):
        """The vectorized batch kernel must be bit-identical per asset to
        the reference scalar xorshift64* chain (the SQL oracle replays these
        exact values, so any drift breaks multimodal_features)."""
        import hashlib
        import struct

        import numpy as np

        def scalar(payload, hw):
            h, w = hw
            digest = hashlib.md5((payload or b"").hex().encode()).digest()
            x = np.uint64(struct.unpack("<Q", digest[8:16])[0] or 1)
            out = np.empty(h * w, dtype=np.uint64)
            for i in range(h * w):
                x ^= x >> np.uint64(12)
                x ^= (x << np.uint64(25)) & np.uint64(0xFFFFFFFFFFFFFFFF)
                x ^= x >> np.uint64(27)
                out[i] = x
            return (out / np.float64(2**64)).reshape(h, w)

        payloads = [b"abc", b"", b"\x00\xff" * 20]
        batch = multimodal._fake_decode_batch(payloads, (4, 4))
        for i, p in enumerate(payloads):
            assert (batch[i] == scalar(p, (4, 4))).all()
        assert batch.shape == (3, 4, 4)
        assert ((batch >= 0) & (batch < 1)).all()


class TestStreaming:
    @pytest.fixture()
    def pages_dir(self, spark, tmp_path):
        path = str(tmp_path / "pages_stream")
        fixture_pages(spark).write.mode("overwrite").parquet(path)
        return path

    def test_streaming_extract_matches_batch(self, spark, pages_dir):
        from upton_spark.streaming.stream import pages_stream, streaming_extract

        stream = pages_stream(spark, pages_dir)
        q = (
            streaming_extract(stream, "h1.article-title")
            .writeStream.format("memory")
            .queryName("sx")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                r["url"]: r["text"]
                for r in spark.sql("SELECT * FROM sx").collect()
            }
        finally:
            q.stop()
        assert got["http://www.example.com/webinar.html"] == (
            "Webinar: How to Use Prescriber Checkup to Power Your Reporting"
        )
        assert got["http://www.example.com/discussion.html"] == ""

    def test_windowed_metrics(self, spark, pages_dir):
        from upton_spark.streaming.stream import pages_stream, windowed_crawl_metrics

        q = (
            windowed_crawl_metrics(pages_stream(spark, pages_dir))
            .writeStream.format("memory")
            .queryName("wm")
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
            rows = spark.sql("SELECT * FROM wm").collect()
        finally:
            q.stop()
        hosts = {r["host"] for r in rows}
        assert "www.example.com" in hosts
        total = sum(r["pages"] for r in rows)
        assert total == 13  # all fixture rows share one capture hour

    def test_stateful_token_bucket(self, spark, pages_dir):
        from upton_spark.streaming.stream import pages_stream, token_bucket_stateful

        q = (
            token_bucket_stateful(pages_stream(spark, pages_dir), tokens_per_trigger=3)
            .writeStream.format("memory")
            .queryName("tb")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            rows = spark.sql("SELECT * FROM tb").collect()
        finally:
            q.stop()
        assert len(rows) == 13
        admitted = [r for r in rows if r["admitted"]]
        # single micro-batch per file group; 3 tokens per trigger per host,
        # refilled across triggers — at least 3 admitted, never zero deferred
        # bookkeeping lost
        assert len(admitted) >= 3
        assert all(r["host"] == "www.example.com" for r in rows)


def test_token_bucket_fn_matches_admit_per_host(spark):
    """The streaming token bucket (vectorized batch kernel) must produce the
    same admit/defer split as the batch admission operator on identically
    ordered input, and honor refill + carryover-cap across triggers."""
    from pyspark.sql import functions as F

    from upton_spark.operators.politeness import admit_per_host
    from upton_spark.streaming.stream import _token_bucket_fn
    import pandas as pd

    class FakeState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

    urls = [f"http://h.example/{i:02d}" for i in range(7)]
    fn = _token_bucket_fn(3)
    state = FakeState()
    # trigger 1: urls split across two Arrow batches
    out = pd.concat(
        list(fn(("h.example",), [pd.DataFrame({"url": urls[:4]}), pd.DataFrame({"url": urls[4:]})], state))
    )
    stream_admitted = set(out[out["admitted"]]["url"])

    batch = spark.createDataFrame(
        [("h.example", u, 3) for u in urls], "host string, url string, host_tokens long"
    )
    got = admit_per_host(batch, order_cols=("url",)).collect()
    batch_admitted = {r["url"] for r in got if r["admitted"]}
    assert stream_admitted == batch_admitted == set(urls[:3])
    assert list(out["url"]) == urls  # ordering preserved across batches

    # trigger 2: refill admits 3 more; carryover was capped, not hoarded
    out2 = pd.concat(list(fn(("h.example",), [pd.DataFrame({"url": urls})], state)))
    assert list(out2[out2["admitted"]]["url"]) == urls[:3]


def test_catalog_contract_shared(spark, tmp_path, monkeypatch):
    """ManifestCatalog and IcebergCatalog satisfy one commit/latest/load
    contract: Snapshot returns with metrics and parent chaining; a commit
    replaces a table (a DataFrame), appends to it (Append, which creates a
    missing table) or removes it (None), and carries forward every table it
    does not name; the manifest holds each table's row count, and a read
    gives back the writer's schema. Iceberg runs against a stubbed writeTo
    and table read (no jar in this sandbox) — the seam the adapter exists
    for."""
    import pyspark.sql.classic.dataframe as cdf
    from pyspark.sql.readwriter import DataFrameReader

    from upton_spark.sources import catalog as catmod

    schema = "a int, b string"

    def df(*rows):
        return spark.createDataFrame(list(rows), schema)

    def read(cat, snap, name):
        return sorted(tuple(r) for r in cat.table(snap, name).collect())

    def contract(cat):
        two = df((1, "a"), (2, "b"))
        s1 = cat.commit(0, {"frontier": two, "frontier_status": two}, metrics={"fetched": 4})
        assert (s1.snapshot_id, s1.round, s1.parent) == (1, 0, None)
        assert s1.metrics == {"fetched": 4}
        assert cat.rows(s1, "frontier") == 2
        got = cat.table(s1, "frontier").schema
        assert [(f.name, f.dataType) for f in got] == [(f.name, f.dataType) for f in two.schema]
        s2 = cat.commit(1, {"urls_seen": two, "frontier_status": catmod.Append(df((1, "a")))})
        assert s2.parent == 1
        assert set(s2.tables) == {"frontier", "frontier_status", "urls_seen"}
        assert cat.rows(s2, "frontier_status") == 3
        assert read(cat, s2, "frontier_status") == [(1, "a"), (1, "a"), (2, "b")]
        s3 = cat.commit(2, {
            "frontier": df((3, "c")),
            "frontier_status": None,
            "urls_seen": catmod.Append(df((3, "c"))),
            "links": catmod.Append(two),
        })
        assert set(s3.tables) == {"frontier", "urls_seen", "links"}
        assert (cat.rows(s3, "frontier"), read(cat, s3, "frontier")) == (1, [(3, "c")])
        assert cat.rows(s3, "urls_seen") == 3
        assert read(cat, s3, "urls_seen") == [(1, "a"), (2, "b"), (3, "c")]
        assert (cat.rows(s3, "links"), read(cat, s3, "links")) == (2, [(1, "a"), (2, "b")])
        assert cat.latest().snapshot_id == 3
        assert cat.snapshots() == [1, 2, 3]
        assert cat.load(2).round == 1
        return s1, s2, s3

    s1, s2, s3 = contract(catmod.ManifestCatalog(spark, str(tmp_path / "manifest_cat")))
    # an append lists new files after the old ones; a replace lists only its own
    first = s1.tables["frontier_status"]["files"]
    assert len(first) == 1 and s2.tables["frontier_status"]["files"][:1] == first
    assert len(s2.tables["frontier_status"]["files"]) == 2
    assert s3.tables["urls_seen"]["files"][:1] == s2.tables["urls_seen"]["files"]
    assert s3.tables["frontier"]["files"] != s1.tables["frontier"]["files"]

    writes, store = [], {}

    class FakeWriter:
        def __init__(self, df, ident):
            self.df, self.ident = df, ident

        def using(self, fmt):
            assert fmt == "iceberg"
            return self

        def createOrReplace(self):
            writes.append(("replace", self.ident))
            store[self.ident] = (self.df.schema, self.df.collect())

        def append(self):
            writes.append(("append", self.ident))
            schema, rows = store[self.ident]
            store[self.ident] = (schema, rows + self.df.collect())

    monkeypatch.setattr(catmod, "iceberg_on_classpath", lambda spark: True)
    monkeypatch.setattr(cdf.DataFrame, "writeTo", lambda self, ident: FakeWriter(self, ident))
    monkeypatch.setattr(
        DataFrameReader, "table",
        lambda self, ident: spark.createDataFrame(store[ident][1], store[ident][0]),
    )
    contract(catmod.IcebergCatalog(spark))
    assert ("replace", "upton.frontier") in writes
    assert ("append", "upton.frontier_status") in writes
    assert ("replace", "upton.links") in writes  # Append to a missing table


def test_iceberg_real_warehouse_smoke(spark, tmp_path):
    """Real-Iceberg gate (VERDICT r4 #9): the day iceberg-spark-runtime
    jars appear on the classpath, this exercises IcebergCatalog
    commit/load/latest/table against a REAL hadoop-type warehouse dir —
    actual createOrReplace commits, actual read-back through the catalog
    identifier. Skipped (with the stub-contract risk on record) while the
    sandbox ships no jar; green wherever one is present."""
    import pytest as _pytest

    from upton_spark.sources import catalog as catmod

    if not catmod.iceberg_on_classpath(spark):
        _pytest.skip(
            "no Iceberg runtime jar on the classpath — IcebergCatalog's "
            "real writeTo path is contract-tested against a stub only "
            "(test_catalog_contract_shared); this smoke proves the real "
            "path wherever jars exist"
        )
    # Iceberg catalogs resolve lazily, so a runtime conf is enough
    spark.conf.set(
        "spark.sql.catalog.upton_smoke", "org.apache.iceberg.spark.SparkCatalog"
    )
    spark.conf.set("spark.sql.catalog.upton_smoke.type", "hadoop")
    spark.conf.set(
        "spark.sql.catalog.upton_smoke.warehouse", str(tmp_path / "warehouse")
    )
    spark.sql("CREATE NAMESPACE IF NOT EXISTS upton_smoke.crawl")
    cat = catmod.IcebergCatalog(spark, namespace="upton_smoke.crawl")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    s1 = cat.commit(0, {"frontier": df}, metrics={"fetched": 2})
    assert cat.latest().snapshot_id == s1.snapshot_id
    got = sorted((r["id"], r["v"]) for r in cat.table(s1, "frontier").collect())
    assert got == [(1, "a"), (2, "b")]
    df2 = spark.createDataFrame([(3, "c")], "id int, v string")
    s2 = cat.commit(1, {"frontier": df2})
    assert cat.load(s2.snapshot_id).parent == s1.snapshot_id
    assert [r["id"] for r in cat.table(s2, "frontier").collect()] == [3]


def test_streaming_url_dedup_first_capture_wins(spark, tmp_path):
    """Duplicate-url captures inside the watermark horizon collapse to the
    first arrival; distinct urls all pass."""
    from upton_spark.sources.fixtures import fixture_pages
    from upton_spark.streaming.stream import pages_stream, streaming_url_dedup

    base = fixture_pages(spark)
    n_distinct = base.select("url").distinct().count()
    doubled = base.unionByName(base)  # every url captured twice
    path = str(tmp_path / "dup_stream")
    doubled.write.mode("overwrite").parquet(path)

    q = (
        streaming_url_dedup(pages_stream(spark, path))
        .writeStream.format("memory")
        .queryName("sd")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT url FROM sd").collect()
    finally:
        q.stop()
    urls = [r["url"] for r in rows]
    assert len(urls) == n_distinct
    assert len(set(urls)) == n_distinct


def test_real_wav_decode_end_to_end(spark):
    """decoder_available('wav')==True via the stdlib wave module: PCM16
    sine-tone WAVs flow through decode_and_featurize with decoder='real';
    a silent tone maps to mean 0.5 amplitude, a full-scale square wave
    spans the [0,1] range."""
    import io
    import struct as _struct
    import wave

    import numpy as np

    from upton_spark.operators import multimodal

    def wav_bytes(samples: np.ndarray) -> bytes:
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(samples.astype("<i2").tobytes())
        return buf.getvalue()

    silence = np.zeros(512, dtype=np.int16)
    ramp = np.linspace(-32000, 32000, 512).astype(np.int16)
    rows = [
        (0, "http://media.example.org/audio/0", wav_bytes(silence),
         ("audio", "wav", None, None, 512)),
        (1, "http://media.example.org/audio/1", wav_bytes(ramp),
         ("audio", "wav", None, None, 512)),
    ]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA)
    feats = {
        r["asset_id"]: r
        for r in multimodal.decode_and_featurize(
            media, resize_to=(8, 8), decoder="real"
        ).collect()
    }
    assert abs(feats[0]["mean_intensity"] - 0.5) < 1e-6
    f1 = feats[1]["feature"]
    assert max(f1) > 0.97 and min(f1) < 0.03
    assert len(f1) == 64
    assert multimodal.decoder_available("wav")


def test_streaming_crawl_end_to_end_single_query(spark, tmp_path):
    """SURVEY §2.9's last untested composition — ONE streaming query:
    file-source pages stream → watermarked URL dedup → extraction →
    stateful per-host token bucket. Admitted/deferred counts must match
    the batch crawl's round-0 admission on the same slice (1 token/host:
    batch fetches 1 and defers 3 in round 0; the streaming bucket admits 1
    and emits 3 deferred in the single arrival trigger), and the duplicate
    capture must be dropped by the dedup stage, never reaching the bucket."""
    from pyspark.sql import functions as F

    from upton_spark.crawler import Crawler, SeedSpec
    from upton_spark.functions.udfs import extract_text_udf, host_col
    from upton_spark.sources.fixtures import BASE, fixture_pages
    from upton_spark.streaming.stream import (
        pages_stream,
        streaming_url_dedup,
        token_bucket_stateful,
    )

    instances = [
        f"{BASE}/webinar.html",
        f"{BASE}/discussion.html",
        f"{BASE}/prosecutor.html",
        f"{BASE}/sixfacts.html",
    ]
    slice_df = fixture_pages(spark).filter(F.col("url").isin(instances))
    # a later duplicate capture of one url: the dedup stage must drop it
    dup = slice_df.filter(F.col("url") == instances[0]).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 MINUTE")
    )
    path = str(tmp_path / "crawl_stream")
    slice_df.unionByName(dup).write.mode("overwrite").parquet(path)

    deduped = streaming_url_dedup(pages_stream(spark, path, max_files_per_trigger=64))
    extracted = deduped.select(
        "url",
        "warc_ts",
        extract_text_udf(F.col("html"), F.lit("h1.article-title")).alias("text"),
    ).filter(F.col("text").isNotNull())  # forces the extract stage to run
    q = (
        token_bucket_stateful(
            extracted.withColumn("host", host_col(F.col("url"))),
            tokens_per_trigger=1,
        )
        .writeStream.format("memory")
        .queryName("e2e_crawl")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM e2e_crawl").collect()
    finally:
        q.stop()

    admitted = sorted(r["url"] for r in rows if r["admitted"])
    deferred = sorted(r["url"] for r in rows if not r["admitted"])
    assert len(rows) == 4  # the duplicate capture never reached the bucket

    # batch twin: 1 token/host/round on the same slice -> round-0 lineage
    seeds = [
        SeedSpec(
            0,
            seed_url=f"{BASE}/propublica.html",
            index_selector="section#river section h1 a",
            extract_selector="h1.article-title",
            extract_kind="text",
            sleep_time_between_requests=30.0,
        )
    ]
    batch = Crawler(
        spark, fixture_pages(spark), seeds, round_budget_s=30.0
    ).crawl()
    r0 = (
        batch.lineage.filter("phase = 'instance' AND round = 0")
        .agg(F.sum("fetched").alias("f"), F.sum("deferred_by_politeness").alias("d"))
        .first()
    )
    assert (len(admitted), len(deferred)) == (r0["f"], r0["d"]) == (1, 3)
    # the admitted/deferred universe is the batch's seen universe (WHICH url
    # admits first differs by design: the stream admits arrival order, the
    # batch admits DOM/instance order)
    batch_urls = {r["url"] for r in batch.urls_seen.collect()}
    assert set(admitted) | set(deferred) == batch_urls == set(instances)


def test_mp4_container_duration_drives_frame_sampling(spark):
    """Real ISO-BMFF parsing: frame_sample(use_container_duration=True)
    derives the schedule from mvhd duration/timescale in the actual mp4
    bytes — tampered sidecar metadata cannot skew the sampling. Frame
    decode stays stubbed (documented; the gate test still names mp4)."""
    import pytest as _pytest

    from upton_spark.operators.multimodal import (
        MEDIA,
        encode_mp4_stub,
        frame_sample,
        mp4_duration_ms,
    )

    assert mp4_duration_ms(encode_mp4_stub(3500)) == 3500
    assert mp4_duration_ms(encode_mp4_stub(0)) == 0
    with _pytest.raises(ValueError):
        mp4_duration_ms(b"\x00\x00\x00\x08free")  # no moov
    with _pytest.raises(ValueError):
        mp4_duration_ms(encode_mp4_stub(1000)[:20])  # truncated box

    rows = [
        # meta LIES (9999ms) — the container says 2500ms
        (0, "http://m/v0.mp4", encode_mp4_stub(2500), ("video", "mp4", 64, 48, 9999)),
        (1, "http://m/v1.mp4", encode_mp4_stub(900), ("video", "mp4", 64, 48, None)),
    ]
    media = spark.createDataFrame(rows, schema=MEDIA)
    got = frame_sample(media, every_ms=1000, use_container_duration=True).collect()
    by_asset = {}
    for r in got:
        by_asset.setdefault(r["asset_id"], []).append(r["frame_ms"])
    assert sorted(by_asset[0]) == [0, 1000, 2000]  # 2500ms, not 9999ms
    assert sorted(by_asset[1]) == [0]
    # the meta path (default) still honors the sidecar value
    meta_rows = frame_sample(media, every_ms=1000).collect()
    assert len([r for r in meta_rows if r["asset_id"] == 0]) == 10


def test_jpeg_header_parsing_and_media_meta_check(spark):
    """Real container-header validation across png/gif/jpeg: dimensions
    parsed from bytes, lying sidecars flagged 'mismatch', corrupt payloads
    'parse_error', non-image formats 'skipped'."""
    import numpy as np
    import pytest as _pytest

    from upton_spark.operators.gif_codec import encode_gif_grey
    from upton_spark.operators.multimodal import (
        MEDIA,
        encode_jpeg_stub,
        jpeg_dimensions,
        media_meta_check,
    )
    from upton_spark.operators.png_codec import encode_png

    assert jpeg_dimensions(encode_jpeg_stub(123, 45)) == (123, 45)
    with _pytest.raises(ValueError):
        jpeg_dimensions(b"\x00\x00not a jpeg")
    with _pytest.raises(ValueError):
        jpeg_dimensions(encode_jpeg_stub(9, 9)[:6])  # truncated before SOF

    from upton_spark.operators.jpeg_codec import encode_jpeg_grey

    png = encode_png(np.zeros((6, 8), dtype=np.uint8))
    gif = encode_gif_grey(np.zeros((5, 7)))
    jpg = encode_jpeg_grey(np.zeros((4, 10)), quant=1)  # real entropy scan
    rows = [
        (0, "u0", png, ("image", "png", 8, 6, None)),       # ok
        (1, "u1", gif, ("image", "gif", 7, 99, None)),      # lying height
        (2, "u2", jpg, ("image", "jpeg", 10, 4, None)),     # ok
        (3, "u3", jpg[:5], ("image", "jpeg", 10, 4, None)), # corrupt
        (4, "u4", b"RIFF....", ("audio", "wav", None, None, 900)),  # skipped
        (5, "u5", png, ("image", "png", None, None, None)),  # no sidecar dims -> ok
        # header intact, scan cut: the r5 full-decode validation catches
        # what the SOF header walk could not
        (6, "u6", jpg[:-6], ("image", "jpeg", 10, 4, None)),
        # header shell with NO scan at all (the r4 stub shape) is also
        # parse_error now — an undecodable image is not a valid asset
        (7, "u7", encode_jpeg_stub(10, 4), ("image", "jpeg", 10, 4, None)),
        # VALID progressive JPEG (SOF2): not decodable by the baseline
        # codec, but NOT corruption — dims fall back to the SOF header
        # walk, so a truthful sidecar is ok and a lying one is mismatch
        (8, "u8", jpg.replace(b"\xff\xc0", b"\xff\xc2", 1), ("image", "jpeg", 10, 4, None)),
        (9, "u9", jpg.replace(b"\xff\xc0", b"\xff\xc2", 1), ("image", "jpeg", 10, 99, None)),
    ]
    media = spark.createDataFrame(rows, schema=MEDIA)
    out = {r["asset_id"]: r for r in media_meta_check(media).collect()}
    assert out[0]["status"] == "ok" and (out[0]["real_width"], out[0]["real_height"]) == (8, 6)
    assert out[1]["status"] == "mismatch" and out[1]["real_height"] == 5
    assert out[2]["status"] == "ok"
    assert out[3]["status"] == "parse_error" and out[3]["real_width"] is None
    assert out[4]["status"] == "skipped"
    assert out[5]["status"] == "ok"  # nothing to contradict
    assert out[6]["status"] == "parse_error"
    assert out[7]["status"] == "parse_error"
    assert out[8]["status"] == "ok" and (out[8]["real_width"], out[8]["real_height"]) == (10, 4)
    assert out[9]["status"] == "mismatch" and out[9]["real_height"] == 4


def test_mp4_sample_table_and_frame_schedule(spark):
    """VERDICT-r4 #8: frame sampling schedules from the REAL stts/stsz
    sample tables, not a uniform split of mvhd duration — a synthetic moov
    with a non-uniform stts (short samples around one long still) yields
    target instants whose covering sample_index is non-uniform, exactly
    per the hand-computed table; corrupt payloads yield the sentinel row
    instead of aborting the batch."""
    from upton_spark.operators.multimodal import (
        MEDIA,
        encode_mp4_with_samples,
        frame_sample_from_table,
        mp4_sample_table,
    )

    deltas = [500, 500, 2000, 100, 100, 100, 700]
    payload = encode_mp4_with_samples(deltas, sample_sizes=[10, 20, 30, 40, 50, 60, 70])
    table = mp4_sample_table(payload)
    assert [s for s, _, _ in table] == [0, 500, 1000, 3000, 3100, 3200, 3300]
    assert [sz for _, sz, _ in table] == [10, 20, 30, 40, 50, 60, 70]
    assert [d for _, _, d in table] == deltas

    rows = [
        (0, "u0", payload, ("video", "mp4", 64, 48, 4000)),
        (1, "u1", payload[:30], ("video", "mp4", 64, 48, 4000)),  # corrupt
    ]
    media = spark.createDataFrame(rows, schema=MEDIA)
    out = frame_sample_from_table(media, every_ms=1000).collect()
    got = sorted(
        (r["frame_ms"], r["sample_index"], r["sample_ms"])
        for r in out
        if r["asset_id"] == 0
    )
    # duration = 3300 + REAL last stts delta 700 = 4000 -> targets
    # 0/1000/2000/3000; at 2000 the long still sample (index 2, started at
    # 1000) is current
    assert got == [(0, 0, 0), (1000, 2, 1000), (2000, 2, 1000), (3000, 3, 3000)]
    sentinel = [r for r in out if r["asset_id"] == 1]
    assert len(sentinel) == 1 and sentinel[0]["sample_index"] == -1


def test_frame_schedule_covers_long_final_still_sample():
    """A track ending in a LONG still sample must be sampled through that
    sample's whole span — approximating track end with the previous
    inter-sample gap (the old behavior) would stop at 200 ms and emit a
    single row for a 3.1-second track."""
    from upton_spark.operators.multimodal import (
        encode_mp4_with_samples,
        mp4_sample_table,
        schedule_from_samples,
    )

    payload = encode_mp4_with_samples([100, 3000])
    rows = schedule_from_samples(mp4_sample_table(payload), 1000)
    # true duration 3100 -> targets 0/1000/2000/3000, all but the first
    # covered by the final still sample (index 1, starts at 100)
    assert rows == [(0, 0, 0), (1000, 1, 100), (2000, 1, 100), (3000, 1, 100)]


def test_mp4_sample_table_skips_leading_trak_without_sample_chain():
    """Real files lead with hint/metadata tracks: a first trak with no
    mdia (or no stbl/stts) must not mask the media track behind it."""
    import struct

    from upton_spark.operators.multimodal import (
        encode_mp4_with_samples,
        mp4_sample_table,
    )

    full = encode_mp4_with_samples([250, 250], sample_sizes=[5, 7])
    # splice a sample-chain-free trak (empty tref payload) in front of the
    # real trak inside moov
    ftyp, moov = full[:16], full[16:]
    body = moov[8:]
    hollow = struct.pack(">I", 16) + b"trak" + struct.pack(">I", 8) + b"tref"
    # moov body = mvhd + trak; insert the hollow trak between them
    mvhd_len = struct.unpack(">I", body[:4])[0]
    patched_body = body[:mvhd_len] + hollow + body[mvhd_len:]
    patched = ftyp + struct.pack(">I", 8 + len(patched_body)) + b"moov" + patched_body
    assert mp4_sample_table(patched) == [(0, 5, 250), (250, 7, 250)]


class TestSniffContentType:
    def test_magic_and_heuristics(self, spark):
        from upton_spark.operators.multimodal import sniff_content_type

        rows = [
            (0, bytes.fromhex("89504E470D0A1A0A") + b"x" * 8),
            (1, b"GIF89a" + b"\x01" * 8),
            (2, bytes.fromhex("FFD8FFE0") + b"JFIF"),
            (3, b"%PDF-1.4 hello"),
            (4, b"\x1f\x8b\x08rest"),
            (5, b"PK\x03\x04zipdata"),
            (6, b"RIFF\x24\x00\x00\x00WAVEfmt "),
            (7, b"\x00\x00\x00\x18ftypisom rest-of-box"),
            (8, b"<!DOCTYPE html><html><body>hi</body></html>"),
            (9, b"  \n <HTML><head></head>"),
            (10, "﻿<html>bom first".encode("utf-8")),
            (11, b"<?xml version='1.0'?><feed/>"),
            (12, b"just some plain words\nsecond line"),
            (13, b"starts text\x00but has a NUL"),
            (14, b""),
            (15, None),
            # RIFF but NOT WAVE (e.g. AVI) must not claim audio/wav
            (16, b"RIFF\x24\x00\x00\x00AVI LIST"),
            # '<' start that is not an html-ish tag stays text
            (17, b"<<< quoted line"),
        ]
        df = spark.createDataFrame(rows, "id long, html binary")
        got = {r["id"]: r["content_type"] for r in sniff_content_type(df).collect()}
        assert got[0] == "image/png"
        assert got[1] == "image/gif"
        assert got[2] == "image/jpeg"
        assert got[3] == "application/pdf"
        assert got[4] == "application/gzip"
        assert got[5] == "application/zip"
        assert got[6] == "audio/wav"
        assert got[7] == "video/mp4"
        assert got[8] == "text/html"
        assert got[9] == "text/html"
        assert got[10] == "text/html"
        assert got[11] == "text/html"
        assert got[12] == "text/plain"
        assert got[13] == "application/octet-stream"
        assert got[14] is None
        assert got[15] is None
        assert got[16] == "application/octet-stream"  # NULs in size field
        assert got[17] == "text/plain"

    def test_pure_codegen(self, spark):
        from upton_spark.operators.multimodal import sniff_content_type

        df = spark.createDataFrame([(0, b"hi")], "id long, html binary")
        plan = sniff_content_type(df)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
