"""Tests: ingest round-trip (S1-S4), streaming anonymization, multimodal
plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.config import EngineSettings
from dbt_gdpr_anonymizer_spark.operators.multimodal import (
    decode_features,
    fake_decoder,
    real_decoder,
    sample_frames,
)
from dbt_gdpr_anonymizer_spark.policy import SERVICES_POLICY
from dbt_gdpr_anonymizer_spark.sources.ingest import (
    SEED_SCHEMA,
    deterministic_sample,
    flatten_services,
    make_ci_fixture_jsonl,
    read_seed_csv,
    read_services_jsonl,
    write_seed_csv,
)
from dbt_gdpr_anonymizer_spark.streaming.anonymize import (
    drain,
    stream_anonymize,
    windowed_event_rollup,
    write_stream_parquet,
)


def test_jsonl_ingest_golden_roundtrip(spark, tmp_path):
    """The reference CI 2-row fixture through read -> flatten -> CSV seed ->
    read-back with pinned schema."""
    src = make_ci_fixture_jsonl(str(tmp_path / "services.jsonl"))
    flat = flatten_services(read_services_jsonl(spark, src))
    rows = {r["service_id"]: r for r in flat.collect()}
    assert set(rows) == {"TEST001", "TEST002"}
    r1 = rows["TEST001"]
    assert r1["street_address"] == "10 rue de Paris"
    assert r1["postal_code"] == "75001"  # leading-zero-safe varchar
    assert r1["website"] == "https://example.fr"  # website[0]
    assert r1["latitude"] == 48.8566 and r1["commune"] == "Paris"

    seed_dir = str(tmp_path / "seed_csv")
    write_seed_csv(flat, seed_dir)
    back = read_seed_csv(spark, seed_dir)
    assert back.schema == SEED_SCHEMA
    assert {r["service_id"]: r["postal_code"] for r in back.collect()} == {
        "TEST001": "75001",
        "TEST002": "69001",
    }


def test_corrupt_jsonl_line_isolated(spark, tmp_path):
    src = tmp_path / "bad.jsonl"
    src.write_text('{"id": "OK1", "name": "Svc"}\n{not json at all\n')
    raw = read_services_jsonl(spark, str(src)).cache()
    flat = flatten_services(raw)
    assert [r["service_id"] for r in flat.collect()] == ["OK1"]
    # Spark requires the parsed result to be cached before querying only
    # the corrupt-record column (QUERY_ONLY_CORRUPT_RECORD_COLUMN).
    assert raw.filter(F.col("_corrupt_record").isNotNull()).count() == 1
    raw.unpersist()


def test_deterministic_sample_stable_and_exact(spark):
    df = spark.range(1000).withColumnRenamed("id", "k")
    s1 = [r["k"] for r in deterministic_sample(df, 37, "k").collect()]
    s2 = [
        r["k"]
        for r in deterministic_sample(df.repartition(7), 37, "k").collect()
    ]
    assert len(s1) == 37 and s1 == s2  # exact n, partitioning-independent


def test_stream_anonymize_masks_microbatches(spark, tmp_path):
    """File-source stream -> mask_model -> memory sink: emails hashed,
    phones partially masked, street addresses aggregated to city."""
    import json

    drop = tmp_path / "drops"
    drop.mkdir()
    rec = {
        "service_id": "S1",
        "service_name": "Svc",
        "contact_email": "someone@real.fr",
        "contact_phone": "+33 1 22 33 44 55",
        "street_address": "1 rue Vraie",
        "city": "Paris",
        "latitude": 48.85661,
        "longitude": 2.35221,
    }
    (drop / "part1.jsonl").write_text(json.dumps(rec) + "\n")

    stream = spark.readStream.schema(SEED_SCHEMA).json(str(drop))
    masked = stream_anonymize(
        stream, SERVICES_POLICY, EngineSettings(salt_key="dev_salt_UNSAFE")
    )
    out = drain(masked).collect()
    assert len(out) == 1
    r = out[0]
    assert r["contact_email_anon"].endswith("@anonymized.gouv.fr")
    assert r["contact_phone_anon"].endswith(" XX XX XX XX")
    assert r["street_address_anon"] == "Paris"
    assert r["latitude_anon"] == 48.86


def test_windowed_rollup_is_streaming_compatible(spark):
    """The rollup plan must be accepted by the streaming planner (watermark
    present, append-able aggregation) — checked by starting a noop sink."""
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "10").load()
    )
    events = stream.select(
        F.col("timestamp").alias("ts"),
        (F.col("value") % 3).cast("string").alias("event_type"),
        F.col("value").cast("double").alias("value"),
    )
    roll = windowed_event_rollup(events, window="10 seconds", watermark="5 seconds")
    q = (
        roll.writeStream.format("noop")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        assert q.isActive
    finally:
        q.stop()


def test_stream_exact_dedup_drops_in_horizon_duplicates(spark, tmp_path):
    """Same-fingerprint docs within one drain are deduped; state is
    watermark-bounded (dropDuplicatesWithinWatermark plan accepted)."""
    import json

    from dbt_gdpr_anonymizer_spark.streaming.anonymize import stream_exact_dedup

    drop = tmp_path / "docs"
    drop.mkdir()
    rows = [
        {"doc_id": 1, "ts": "2024-01-01T10:00:00", "text": "hello brave new world"},
        {"doc_id": 2, "ts": "2024-01-01T10:00:01", "text": "Hello, brave NEW world!"},
        {"doc_id": 3, "ts": "2024-01-01T10:00:02", "text": "an entirely different doc"},
    ]
    (drop / "batch1.jsonl").write_text(
        "\n".join(json.dumps(r) for r in rows) + "\n"
    )
    stream = spark.readStream.schema(
        "doc_id long, ts timestamp, text string"
    ).json(str(drop))
    deduped = stream_exact_dedup(stream, watermark="10 minutes")
    out = drain(deduped.select("doc_id", "fingerprint")).collect()
    # docs 1 and 2 normalize to the same fingerprint -> one survivor; 3 kept
    assert len(out) == 2
    assert len({r["fingerprint"] for r in out}) == 2
    assert {r["doc_id"] for r in out} <= {1, 2, 3}
    assert 3 in {r["doc_id"] for r in out}


def test_multimodal_decode_plumbing(spark):
    rows = [
        (1, "image", b"\x89PNG fake bytes", (4, 4, None, "png")),
        (2, "audio", b"RIFF fake", (None, None, 1200, "wav")),
        (3, "image", None, (None, None, None, None)),
    ]
    df = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, "
        "meta struct<width:int,height:int,duration_ms:long,codec:string>",
    )
    out = {r["media_id"]: r for r in decode_features(df).collect()}
    assert out[1]["n_bytes"] == 15 and len(out[1]["features"]) == 8
    assert out[3]["n_bytes"] == 0 and out[3]["features"] == [0.0] * 8
    # determinism: same payload -> same features
    assert out[1]["features"] == [
        pytest.approx(x) for x in fake_decoder(b"\x89PNG fake bytes")
    ]


def test_real_decoder_parses_wav_pcm16():
    from dbt_gdpr_anonymizer_spark.operators.multimodal import (
        make_wav_pcm16,
        wav_pcm_decoder,
    )

    payload = make_wav_pcm16([100, -200, 300, -1, 0, 5], rate=8000)
    feats = wav_pcm_decoder(payload)
    # [channels, rate, n, sum|s|, max|s|, zero-crossings, first, last]
    assert feats == [1.0, 8000.0, 6.0, 606.0, 300.0, 4.0, 100.0, 5.0]
    assert real_decoder(payload) == feats
    # chunk walker tolerates an extra chunk before data
    extra = payload[:12] + b"LIST\x04\x00\x00\x00abcd" + payload[12:]
    assert wav_pcm_decoder(extra) == feats
    with pytest.raises(ValueError):
        wav_pcm_decoder(b"RIFFxxxxNOPE")


def test_real_decoder_parses_bmp24():
    from dbt_gdpr_anonymizer_spark.operators.multimodal import (
        bmp_decoder,
        make_bmp24,
    )

    # 2x2 with distinct corners; 3-wide row exercises the 4-byte padding
    img = make_bmp24([[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (10, 20, 30)]])
    assert bmp_decoder(img) == [2.0, 2.0, 265.0, 275.0, 285.0, 255.0, 0.0, 255.0]
    img3 = make_bmp24([[(1, 2, 3), (4, 5, 6), (7, 8, 9)]])
    assert bmp_decoder(img3)[:2] == [3.0, 1.0]
    assert bmp_decoder(img3)[7] == 6.0  # top-left luma 1+2+3
    assert real_decoder(img) == bmp_decoder(img)


def test_real_decoder_rejects_codec_formats():
    # MP3 needs a real codec library -> named swap-in, not a parse
    with pytest.raises(NotImplementedError):
        real_decoder(b"ID3\x04\x00\x00" + b"\x00" * 16)
    with pytest.raises(NotImplementedError):
        real_decoder(b"x")
    # JPEG dispatches to the native baseline tier now; garbage after the
    # SOI magic is a PARSE error there, not an unsupported format
    with pytest.raises(ValueError):
        real_decoder(b"\xff\xd8\xff\xe0" + b"\x00" * 16)


def test_real_decoder_parses_png_rgb8_all_filters():
    from dbt_gdpr_anonymizer_spark.operators.multimodal import (
        make_png_rgb8,
        png_decoder,
    )

    px = [
        [(255, 0, 0), (0, 255, 0), (7, 8, 9)],
        [(0, 0, 255), (10, 20, 30), (1, 2, 3)],
    ]
    exp = [
        3.0, 2.0,
        float(255 + 0 + 7 + 0 + 10 + 1),
        float(0 + 255 + 8 + 0 + 20 + 2),
        float(0 + 0 + 9 + 255 + 30 + 3),
        255.0, 0.0, 255.0,
    ]
    # every filter_seed rotates which scanline filter each row gets; all
    # five reconstruction paths must agree on the same pixels
    for seed in range(5):
        payload = make_png_rgb8(px, filter_seed=seed)
        assert png_decoder(payload) == exp
        assert real_decoder(payload) == exp


def test_png_decoder_rejects_corruption_and_exotics():
    import struct
    import zlib

    from dbt_gdpr_anonymizer_spark.operators.multimodal import (
        make_png_rgb8,
        png_decoder,
    )

    good = bytearray(make_png_rgb8([[(1, 2, 3)]]))
    # flip a byte inside IHDR data: CRC must catch it
    bad = bytearray(good)
    bad[16] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        png_decoder(bytes(bad))
    # 16-bit / palette / interlaced PNGs name the swap-in instead of
    # mis-parsing
    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0)  # palette
    chunk = (
        struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    idat_raw = zlib.compress(b"\x00\x00")
    idat = (
        struct.pack(">I", len(idat_raw))
        + b"IDAT"
        + idat_raw
        + struct.pack(">I", zlib.crc32(b"IDAT" + idat_raw) & 0xFFFFFFFF)
    )
    with pytest.raises(NotImplementedError, match="Pillow"):
        png_decoder(sig + chunk + idat)


def test_bmp_decoder_top_down_negative_height():
    """Negative biHeight = top-down row order (valid per spec); must parse
    identically to the bottom-up twin of the same image, not release
    zeroed features (r6 ADVICE)."""
    import struct

    from dbt_gdpr_anonymizer_spark.operators.multimodal import (
        bmp_decoder,
        make_bmp24,
    )

    px = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (10, 20, 30)]]
    up = bytearray(make_bmp24(px))
    # rewrite height to -2 and reverse the stored row order (top-down)
    (offset,) = struct.unpack("<I", bytes(up[10:14]))
    w, h = struct.unpack("<ii", bytes(up[18:26]))
    stride = (w * 3 + 3) // 4 * 4
    rows = [
        bytes(up[offset + i * stride : offset + (i + 1) * stride])
        for i in range(h)
    ]
    down = (
        bytes(up[:18])
        + struct.pack("<ii", w, -h)
        + bytes(up[26:offset])
        + b"".join(reversed(rows))
    )
    assert bmp_decoder(down) == bmp_decoder(bytes(up))
    assert bmp_decoder(down)[:2] == [2.0, 2.0]


def test_real_decoder_through_spark_plumbing(spark):
    from dbt_gdpr_anonymizer_spark.operators.multimodal import (
        decode_features,
        synth_wav_udf,
    )
    from pyspark.sql import functions as F

    media = spark.range(6).select(
        F.col("id").alias("media_id"),
        F.lit("audio").alias("kind"),
        synth_wav_udf()(F.col("id")).alias("payload"),
    )
    out = decode_features(media, decoder=real_decoder).collect()
    assert len(out) == 6
    for r in out:
        n = 16 + r["media_id"] % 17
        expected = [
            ((r["media_id"] * 31 + i * 997) % 2001) - 1000 for i in range(n)
        ]
        assert r["features"][2] == float(n)
        assert r["features"][6] == float(expected[0])
        assert r["features"][7] == float(expected[-1])


def test_sample_frames_filter(spark):
    frames = spark.createDataFrame(
        [(1, i, b"f") for i in range(25)],
        "media_id long, frame_idx int, payload binary",
    )
    kept = sample_frames(frames, every_n=10).collect()
    assert sorted(r["frame_idx"] for r in kept) == [0, 10, 20]


def test_stratified_sample_exact_per_group_and_stable(spark):
    """Exactly n per stratum (or the whole stratum when smaller), identical
    across partitionings — the class-balanced sampling contract."""
    from dbt_gdpr_anonymizer_spark.sources.ingest import stratified_sample

    rows = [(i, "big" if i < 80 else "small") for i in range(84)]
    df = spark.createDataFrame(rows, "k long, g string")
    out = stratified_sample(df, ["g"], 7, "k").collect()
    per = {}
    for r in out:
        per.setdefault(r["g"], set()).add(r["k"])
    assert len(per["big"]) == 7
    assert len(per["small"]) == 4  # stratum smaller than n -> keep all
    again = stratified_sample(df.repartition(13), ["g"], 7, "k").collect()
    assert {(r["g"], r["k"]) for r in again} == {(r["g"], r["k"]) for r in out}


def test_stream_scrub_text_redacts_microbatches(spark, tmp_path):
    """scrub_pii applies to a readStream verbatim (stateless projection):
    the drained sink holds redacted text."""
    import json
    import os

    from dbt_gdpr_anonymizer_spark.streaming.anonymize import (
        stream_scrub_text,
    )

    src = tmp_path / "src"
    src.mkdir()
    rows = [
        {"doc_id": 1, "text": "mail a@b.fr et tel +33 1 22 33 44 55"},
        {"doc_id": 2, "text": "rien de sensible"},
    ]
    p = src / "docs.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in rows))
    os.utime(p, (1_700_000_000, 1_700_000_000))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(src))
    )
    out = {
        r["doc_id"]: r["text"]
        for r in drain(stream_scrub_text(stream)).collect()
    }
    assert out[1] == "mail [EMAIL] et tel [PHONE]"
    assert out[2] == "rien de sensible"


def test_resource_negotiation_against_canned_metadata(monkeypatch, tmp_path):
    """download_data.py:196-216 parity: metadata fetch -> pick the first
    format=='json' resource -> download its url. Driven fully offline
    against a canned metadata payload (the reference CI never hits the
    network either)."""
    import io
    import json as _json
    import urllib.request as _url

    from dbt_gdpr_anonymizer_spark.sources.ingest import (
        fetch_dataset_resource,
        select_json_resource,
    )

    meta = {
        "resources": [
            {"format": "csv", "url": "https://example.org/data.csv"},
            {"format": "json", "url": "https://example.org/data.json"},
            {"format": "json", "url": "https://example.org/other.json"},
        ]
    }
    payload = b'{"id": "S1"}\n'
    calls = []

    class FakeResp(io.BytesIO):
        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    def fake_urlopen(url, timeout=None):
        calls.append(url)
        if url.endswith("/datasets/api-mairie/"):
            return FakeResp(_json.dumps(meta).encode())
        assert url == "https://example.org/data.json"  # FIRST json resource
        return FakeResp(payload)

    monkeypatch.setattr(_url, "urlopen", fake_urlopen)
    dest = str(tmp_path / "raw.jsonl")
    out = fetch_dataset_resource(
        "https://api.example.org/1", "api-mairie", dest
    )
    assert out == dest
    assert open(dest, "rb").read() == payload
    assert calls == [
        "https://api.example.org/1/datasets/api-mairie/",
        "https://example.org/data.json",
    ]

    # no matching format -> LookupError listing what IS available
    with pytest.raises(LookupError, match="csv"):
        select_json_resource({"resources": [{"format": "csv", "url": "u"}]})
    # resource without a url is skipped the same way
    with pytest.raises(LookupError):
        select_json_resource({"resources": [{"format": "json"}]})


def test_rate_events_stream_feeds_windowed_rollup(spark, tmp_path):
    """The rate (message-bus stand-in) source must flow through the same
    unbounded-DataFrame contract as file streams: windowed rollup over it
    plans as a streaming query and an availableNow drain lands rows whose
    synthetic columns obey the deterministic value->column mapping."""
    from dbt_gdpr_anonymizer_spark.streaming.anonymize import (
        read_rate_events_stream,
        windowed_event_rollup,
    )

    ev = read_rate_events_stream(spark, rows_per_second=500, micro_batch=True)
    assert ev.isStreaming
    rolled = windowed_event_rollup(ev)
    out = str(tmp_path / "out")
    write_stream_parquet(
        rolled, out, str(tmp_path / "ckpt"), available_now=True
    ).awaitTermination()
    # append mode only emits FINALIZED windows; a short drain may finalize
    # none, but the raw drain below must still land rows. Check the sink
    # parses (0-or-more rows, exact schema).
    got = spark.read.schema(
        "window_start timestamp, window_end timestamp, event_type string,"
        " n_events bigint, total_value double"
    ).parquet(out)
    assert got.columns == [
        "window_start", "window_end", "event_type", "n_events", "total_value"
    ]

    raw_out = str(tmp_path / "raw")
    write_stream_parquet(
        ev, raw_out, str(tmp_path / "ckpt2"), available_now=True
    ).awaitTermination()
    rows = spark.read.parquet(raw_out).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["user_id"] == r["event_id"] % 97
        kind = ["click", "view", "purchase"][r["event_id"] % 3]
        assert r["event_type"] == kind
        assert abs(r["value"] - (r["event_id"] % 1000) / 10.0) < 1e-9


def test_parse_kafka_events_from_byte_fixture(spark):
    """parse_kafka_events turns the Kafka wire shape (binary JSON value)
    into the events contract — driven by a literal byte fixture, so the
    'Kafka swap is format + parse only' claim is code, not a comment."""
    from datetime import datetime

    from dbt_gdpr_anonymizer_spark.streaming.anonymize import (
        parse_kafka_events,
    )

    records = [
        # well-formed record, full payload
        (
            b"k1",
            b'{"event_id": 7, "user_id": 42, "event_type": "click",'
            b' "ts": "2024-03-01T10:30:00", "value": 12.5}',
            "events", 0, 100,
        ),
        # poison message: not JSON — must be dropped, not fatal
        (b"k2", b"\x00\xffgarbage", "events", 0, 101),
        # JSON but wrong shape (no event_id) — dropped by the null gate
        (b"k3", b'{"foo": 1}', "events", 0, 102),
    ]
    df = spark.createDataFrame(
        records,
        "key binary, value binary, topic string, partition int, offset long",
    )
    out = parse_kafka_events(df)
    assert out.columns == ["event_id", "user_id", "event_type", "ts", "value"]
    assert dict(out.dtypes)["ts"] == "timestamp"
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["event_id"], r["user_id"], r["event_type"]) == (7, 42, "click")
    assert r["ts"] == datetime(2024, 3, 1, 10, 30, 0)
    assert r["value"] == 12.5


def test_parse_kafka_events_streaming_composes_with_rollup(spark, tmp_path):
    """The parsed stream is the same contract the rollup consumes: feed a
    file-source stream of Kafka-shaped records through parse + rollup."""
    import json

    from dbt_gdpr_anonymizer_spark.streaming.anonymize import (
        parse_kafka_events,
        windowed_event_rollup,
    )

    src_dir = tmp_path / "wire"
    src_dir.mkdir()
    payloads = [
        {"event_id": i, "user_id": i % 5, "event_type": "click",
         "ts": f"2024-03-01T10:{i:02d}:00", "value": 1.0}
        for i in range(10)
    ]
    batch = spark.createDataFrame(
        [(json.dumps(p).encode(),) for p in payloads], "value binary"
    )
    batch.write.mode("overwrite").parquet(str(src_dir))
    wire = spark.readStream.schema("value binary").parquet(str(src_dir))
    rolled = windowed_event_rollup(parse_kafka_events(wire))
    got = drain(rolled, "complete").collect()
    assert len(got) == 1
    assert got[0]["n_events"] == 10 and got[0]["total_value"] == 10.0


def test_python_datasource_partitions_and_parse(spark, tmp_path):
    import json
    from dbt_gdpr_anonymizer_spark.sources.pysource import register_jsonl_dir

    root = tmp_path / "payload"
    root.mkdir()
    # 3 payload files -> 3 partitions; one blank line + missing field probe
    (root / "a.jsonl").write_text(
        json.dumps({"id": 1, "v": "x"}) + "\n\n" + json.dumps({"id": 2, "v": "y"}) + "\n"
    )
    (root / "b.jsonl").write_text(json.dumps({"id": 3}) + "\n")
    (root / "c.jsonl").write_text("")
    register_jsonl_dir(spark)
    df = (
        spark.read.format("jsonl_dir")
        .schema("id long, v string")
        .option("path", str(root))
        .load()
    )
    assert df.rdd.getNumPartitions() == 3
    rows = {(r.id, r.v) for r in df.collect()}
    assert rows == {(1, "x"), (2, "y"), (3, None)}


def test_binaryfile_source_reads_blobs(spark, tmp_path):
    # the built-in binaryFile format is the ingest path for image/audio
    # dirs feeding the multimodal decode (operators/multimodal.py)
    import os

    blobs = {"a.bin": b"\x00\x01\x02" * 100, "b.bin": b"xyz"}
    for name, data in blobs.items():
        (tmp_path / name).write_bytes(data)
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(str(tmp_path))
    )
    rows = {os.path.basename(r.path): (r.length, bytes(r.content))
            for r in df.collect()}
    assert rows == {n: (len(b), b) for n, b in blobs.items()}


def test_mp4_decoder_box_walk():
    import struct

    from dbt_gdpr_anonymizer_spark.operators.multimodal import (
        make_mp4,
        mp4_decoder,
    )

    payload = make_mp4(
        [(640, 480), (1920, 1080)], timescale=90000, duration=123456,
        mdat=b"\x01\x02\x03",
    )
    assert mp4_decoder(payload) == [
        2.0, 90000.0, 123456.0, 2560.0, 1560.0, 3.0, 3.0, 3.0,
    ]
    assert real_decoder(payload) == mp4_decoder(payload)
    # 64-bit largesize mdat box must also walk
    big = payload[: payload.rfind(b"mdat") - 4]
    mdat_payload = b"\x00" * 5
    big += (
        struct.pack(">I", 1) + b"mdat"
        + struct.pack(">Q", 16 + len(mdat_payload)) + mdat_payload
    )
    assert mp4_decoder(big)[6] == 5.0
    # malformed: a box overrunning its container must raise, not misparse
    bad = bytearray(payload)
    bad[0:4] = struct.pack(">I", len(payload) + 999)
    with pytest.raises(ValueError, match="overruns"):
        mp4_decoder(bytes(bad))
    with pytest.raises(ValueError, match="ISO BMFF|not an"):
        mp4_decoder(b"\x00" * 20)


def test_jpeg_roundtrip_exact():
    """Baseline grayscale JPEG: flat blocks with q=8 are DC-only and
    exactly quantizable, so encode->decode reproduces every sample —
    including negative DC differences (descending block values) and the
    byte-stuffing path (values near 255 produce 0xFF entropy bytes)."""
    from dbt_gdpr_anonymizer_spark.operators.multimodal import (
        jpeg_decoder,
        make_jpeg_gray,
        real_decoder,
    )

    cases = [
        [[0]],
        [[255]],
        [[128]],
        [[200, 100, 50]],  # negative DC diffs
        [[7, 250], [13, 129], [0, 255]],
    ]
    for blocks in cases:
        payload = make_jpeg_gray(blocks)
        feats = jpeg_decoder(payload)
        flat = [v for row in blocks for v in row]
        assert feats[0] == 8 * len(blocks[0])
        assert feats[1] == 8 * len(blocks)
        assert feats[2] == feats[3] == feats[4] == 64 * sum(flat)
        assert feats[5] == max(flat) and feats[6] == min(flat)
        assert feats[7] == 3 * blocks[0][0]
        # magic dispatch routes ff d8 to the JPEG tier
        assert real_decoder(payload) == feats


def test_jpeg_decoder_rejects_malformed():
    import struct

    import pytest

    from dbt_gdpr_anonymizer_spark.operators.multimodal import (
        jpeg_decoder,
        make_jpeg_gray,
    )

    with pytest.raises(ValueError):
        jpeg_decoder(b"\x00\x01\x02\x03")
    with pytest.raises(ValueError):  # truncated scan
        jpeg_decoder(make_jpeg_gray([[100]])[:-8])
    # multi-component SOF0 refuses with the documented swap-in
    sof3 = (
        b"\xff\xd8\xff\xc0" + struct.pack(">HBHHB", 17, 8, 8, 8, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]) + b"\xff\xd9"
    )
    with pytest.raises(NotImplementedError, match="grayscale"):
        jpeg_decoder(sof3)
    # progressive refuses
    prog = b"\xff\xd8\xff\xc2" + struct.pack(">HBHHB", 11, 8, 8, 8, 1) + bytes(
        [1, 0x11, 0]
    ) + b"\xff\xd9"
    with pytest.raises(NotImplementedError, match="progressive"):
        jpeg_decoder(prog)
    # the exact-tier encoder refuses a q that would lose precision
    # (8*(100-128) = -224 is not divisible by 5)
    with pytest.raises(ValueError, match="divide"):
        make_jpeg_gray([[100]], q=5)


class TestMd5BucketedRank:
    """r8: the hot-stratum fix — md5-prefix sub-buckets must reproduce
    the single-window md5 rank EXACTLY (the bucket is the md5's leading
    byte, so bucketed order IS md5 order), while keeping every window
    partitioned."""

    def test_matches_single_window_rank(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from dbt_gdpr_anonymizer_spark.sources.ingest import (
            md5_bucketed_rank,
        )

        # skewed: one hot group with 300 rows, two tiny ones
        rows = [(i, "hot") for i in range(300)] + [
            (1000, "a"), (1001, "a"), (2000, "b"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, grp string")
        got = {
            (r["grp"], r["doc_id"]): r["_rk"]
            for r in md5_bucketed_rank(df, ["grp"], "doc_id").collect()
        }
        w = Window.partitionBy("grp").orderBy(
            F.md5(F.col("doc_id").cast("string")), "doc_id"
        )
        expect = {
            (r["grp"], r["doc_id"]): r["_rk"]
            for r in df.withColumn(
                "_rk", F.row_number().over(w)
            ).collect()
        }
        assert got == expect

    def test_plan_has_no_unpartitioned_window(self, spark):
        from tests.conftest import unpartitioned_windows

        from dbt_gdpr_anonymizer_spark.sources.ingest import (
            md5_bucketed_rank,
        )

        df = spark.createDataFrame(
            [(i, "g") for i in range(50)], "doc_id long, grp string"
        )
        assert unpartitioned_windows(
            md5_bucketed_rank(df, ["grp"], "doc_id")
        ) == []

    def test_null_stratum_is_a_normal_partition(self, spark):
        """r9 (ADVICE r8): Window.partitionBy treats a NULL group value as
        an ordinary partition, so the offset join must be null-safe — a
        name-list inner join silently dropped whole NULL strata."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from dbt_gdpr_anonymizer_spark.sources.ingest import (
            md5_bucketed_rank,
            stratified_sample,
        )

        rows = (
            [(i, None) for i in range(40)]
            + [(100 + i, "a") for i in range(7)]
            + [(200, "b")]
        )
        df = spark.createDataFrame(rows, "doc_id long, grp string")
        for bc in (True, False):
            got = {
                (r["grp"], r["doc_id"]): r["_rk"]
                for r in md5_bucketed_rank(
                    df, ["grp"], "doc_id", broadcast_offsets=bc
                ).collect()
            }
            w = Window.partitionBy("grp").orderBy(
                F.md5(F.col("doc_id").cast("string")), "doc_id"
            )
            expect = {
                (r["grp"], r["doc_id"]): r["_rk"]
                for r in df.withColumn(
                    "_rk", F.row_number().over(w)
                ).collect()
            }
            assert got == expect, f"broadcast_offsets={bc}"
        # end-to-end: the NULL stratum contributes exactly n rows
        samp = stratified_sample(df, ["grp"], 3, "doc_id").collect()
        by_grp = {}
        for r in samp:
            by_grp.setdefault(r["grp"], []).append(r["doc_id"])
        assert len(by_grp[None]) == 3
        assert len(by_grp["a"]) == 3
        assert by_grp["b"] == [200]
