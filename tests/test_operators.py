"""Operator-level semantics on small literal frames: as-of join tie
rules, bucketized band join vs naive, sinks, multimodal plumbing."""

import os

import pytest
from pyspark.sql import functions as F

from data_eng_taxi_ibis_dagster_spark.operators.multimodal import (
    decode_stub,
    documents_as_media,
    extract_features,
)
from data_eng_taxi_ibis_dagster_spark.operators.relational import (
    asof_join,
    band_join_bucketized,
)
from data_eng_taxi_ibis_dagster_spark.plans.shape import physical_plan
from data_eng_taxi_ibis_dagster_spark.sources.sinks import export_parquet
from data_eng_taxi_ibis_dagster_spark.sources.tables import from_rows, load_table


def test_asof_join_basic_and_ties(spark):
    trades = from_rows(spark, [(1, 100, "t1"), (1, 205, "t2"), (2, 50, "t3")],
                       ["k", "t", "trade"])
    quotes = from_rows(spark, [(1, 100, 9.9), (1, 200, 10.1), (2, 60, 7.0)],
                       ["k", "t", "px"])
    strict = asof_join(
        trades, quotes.select("k", "t", F.col("px")),
        on="k", left_time="t", right_time="t", right_cols=["px"], strict=True,
    ).toPandas().set_index("trade")
    # t1 at t=100: quote at 100 NOT visible under strict <
    assert strict.loc["t1"]["px"] != strict.loc["t1"]["px"]  # NaN
    assert strict.loc["t2"]["px"] == 10.1
    assert strict.loc["t3"]["px"] != strict.loc["t3"]["px"]  # t=50 < 60 → none

    nonstrict = asof_join(
        trades, quotes.select("k", "t", F.col("px")),
        on="k", left_time="t", right_time="t", right_cols=["px"], strict=False,
    ).toPandas().set_index("trade")
    assert nonstrict.loc["t1"]["px"] == 9.9  # equal-time quote visible


def test_band_join_bucketized_equals_naive(spark, sf_dir):
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    naive = (
        customer.join(
            supplier,
            (customer.c_acctbal >= supplier.s_acctbal - 50.0)
            & (customer.c_acctbal <= supplier.s_acctbal + 50.0),
        ).select("c_custkey", "s_suppkey")
    )
    bucketized = band_join_bucketized(
        customer, supplier, left_val="c_acctbal", right_val="s_acctbal", band=50.0,
    ).select("c_custkey", "s_suppkey")
    assert naive.count() == bucketized.count()
    assert naive.exceptAll(bucketized).count() == 0
    assert bucketized.exceptAll(naive).count() == 0


def test_export_parquet_modes(spark, sf_dir, tmp_path):
    nation = load_table(spark, sf_dir, "nation")
    single = export_parquet(nation, str(tmp_path / "one"), single_file=True)
    assert single.rows == 25 and single.bytes > 0
    files = [f for f in os.listdir(tmp_path / "one") if f.endswith(".parquet")]
    assert len(files) == 1  # reference COPY-to-one-file parity
    parts = export_parquet(nation, str(tmp_path / "parts"),
                           partition_by=("n_regionkey",))
    assert parts.rows == 25
    assert any(d.startswith("n_regionkey=") for d in os.listdir(tmp_path / "parts"))


def test_multimodal_feature_plumbing(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    media = documents_as_media(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    feats = extract_features(media).toPandas()
    assert len(feats) == docs.count()
    assert (feats["n_bytes"] > 0).all()
    assert feats["checksum"].str.len().eq(32).all()
    assert feats["feat_mean_byte"].between(0, 255).all()


def test_multimodal_frame_sampling(spark, sf_dir):
    from data_eng_taxi_ibis_dagster_spark.operators.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents")
    media = documents_as_media(docs)
    frames = sample_frames(media, every_n_bytes=64, max_frames=4)
    pdf = frames.toPandas()
    assert dict(frames.dtypes)["frame_payload"] == "binary"
    assert (pdf.groupby("media_id")["frame_index"].max() <= 3).all()
    assert len(pdf) >= docs.count()  # every doc yields ≥1 frame
    # frame content is the right byte window
    one = pdf[pdf["media_id"] == pdf["media_id"].iloc[0]].sort_values("frame_index")
    text = docs.filter(docs.doc_id == int(one["media_id"].iloc[0])).collect()[0].text
    assert bytes(one["frame_payload"].iloc[0]) == text.encode()[:64]


def test_sketch_rollup_error_bound(spark, sf_dir):
    """Merged daily HLL sketches estimate weekly uniques within 2% of
    exact, and the merge is deterministic across repeated runs."""
    from pyspark.sql import functions as F

    from data_eng_taxi_ibis_dagster_spark.plans.registry import all_specs

    spec = all_specs()["sketch_rollup_uniques"]
    got = {r["week"]: r["est_weekly_users"]
           for r in spec.builder(spark, sf_dir).collect()}
    again = {r["week"]: r["est_weekly_users"]
             for r in spec.builder(spark, sf_dir).collect()}
    assert got == again  # register-max merge ⇒ order-independent
    ev = load_table(spark, sf_dir, "events")
    week_us = 7 * 24 * 3600 * 1_000_000
    day_us = F.unix_micros(F.date_trunc("day", F.col("ts")))
    exact = {
        r["week"]: r["n"]
        for r in ev.groupBy((day_us / F.lit(week_us)).cast("long").alias("week"))
        .agg(F.count_distinct("user_id").alias("n")).collect()
    }
    assert set(got) == set(exact)
    for wk, est in got.items():
        assert abs(est - exact[wk]) <= max(1, 0.02 * exact[wk]), (wk, est, exact[wk])


def test_multimodal_compressed_codecs_raise():
    with pytest.raises(NotImplementedError):
        decode_stub(b"\xff\xfb\x90\x00", "audio/mpeg")


def test_multimodal_bmp_ppm_wav_roundtrip():
    """Real codecs: encode → decode round-trips recover exact
    dimensions and pixel/sample statistics."""
    import numpy as np

    from data_eng_taxi_ibis_dagster_spark.operators.multimodal import (
        decode_payload,
        encode_bmp,
        encode_png,
        encode_ppm,
        encode_wav,
    )

    pixels = np.arange(5 * 7 * 3, dtype=np.uint8).reshape(5, 7, 3)
    for mime, payload in [("image/bmp", encode_bmp(pixels)),
                          ("image/x-portable-pixmap", encode_ppm(pixels)),
                          ("image/png", encode_png(pixels))]:
        d = decode_payload(payload, mime)
        assert (d["width"], d["height"], d["n_channels"]) == (7, 5, 3)
        assert d["feat_mean"] == pytest.approx(float(pixels.mean()))
    # BMP row padding: a width not divisible by 4 must still decode
    odd = np.full((3, 3, 3), 200, dtype=np.uint8)
    d = decode_payload(encode_bmp(odd), "image/bmp")
    assert (d["width"], d["height"]) == (3, 3)
    assert d["feat_mean"] == pytest.approx(200.0)

    samples = (np.sin(np.arange(1600) / 5.0) * 10000).astype(np.int16)
    d = decode_payload(encode_wav(samples, 16000), "audio/wav")
    assert d["sample_rate"] == 16000
    assert d["duration_ms"] == 100
    assert d["n_channels"] == 1
    rms = float(np.sqrt(np.mean((samples / 32768.0) ** 2)))
    assert d["feat_mean"] == pytest.approx(rms)


def test_multimodal_png_filters_and_strictness():
    """PNG: pixel-exact recovery through all five scanline filters
    (the encoder cycles them per row, so ≥5-row images exercise each),
    byte-exact per-pixel mean, and spec-valid chunk CRCs."""
    import struct
    import zlib

    import numpy as np

    from data_eng_taxi_ibis_dagster_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(7)
    for shape in [(16, 16, 3), (7, 5, 3), (1, 1, 3), (11, 23, 3)]:
        px = rng.randint(0, 256, shape).astype(np.uint8)
        d = decode_png(encode_png(px))
        assert (d["width"], d["height"], d["n_channels"]) == (shape[1], shape[0], 3)
        assert d["feat_mean"] == float(px.mean())  # bit-exact
    payload = encode_png(np.zeros((3, 3, 3), np.uint8))
    assert payload[:8] == b"\x89PNG\r\n\x1a\n"
    pos = 8
    while pos + 8 <= len(payload):
        ln, tag = struct.unpack_from(">I4s", payload, pos)
        crc = struct.unpack_from(">I", payload, pos + 8 + ln)[0]
        assert crc == (zlib.crc32(payload[pos + 4:pos + 8 + ln]) & 0xFFFFFFFF), tag
        pos += 12 + ln
    with pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\n" + b"garbage")


def test_multimodal_corrupt_payload_quarantined(spark):
    """A corrupt/truncated media payload must NOT abort the stage:
    extract_features emits byte stats + NULL media fields + a
    decode_error, and healthy feat_mean NULLs are true SQL NULLs."""
    import pandas as pd

    from data_eng_taxi_ibis_dagster_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_bmp,
        extract_features,
    )
    import numpy as np

    good = encode_bmp(np.full((2, 2, 3), 9, np.uint8))
    rows = [
        (1, "image/bmp", bytearray(good), 2, 2, None),
        (2, "image/bmp", bytearray(b""), None, None, None),          # empty
        (3, "image/bmp", bytearray(good[:20]), None, None, None),    # truncated
        (4, "text/plain", bytearray(b"hello"), None, None, None),    # non-media
    ]
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    pdf = extract_features(media).toPandas().set_index("media_id")
    assert pdf.loc[1, "decode_error"] is None
    assert pdf.loc[1, "feat_mean"] == pytest.approx(9.0)
    for bad in (2, 3):
        assert pdf.loc[bad, "decode_error"]  # non-empty message
        assert pd.isna(pdf.loc[bad, "feat_mean"])
        assert pd.isna(pdf.loc[bad, "width"])
        assert pdf.loc[bad, "n_bytes"] == (0 if bad == 2 else 20)
    # non-media rows: byte stats only, no error, feat_mean is SQL NULL
    assert pdf.loc[4, "decode_error"] is None
    sdf = extract_features(media)
    n_null = sdf.filter(sdf.feat_mean.isNull()).count()
    assert n_null == 3  # 2 quarantined + 1 non-media — NULL, not NaN


def test_multimodal_synthetic_media_decodes_on_cluster(spark, sf_dir):
    """End-to-end through Spark: real BMP/PPM/WAV/PNG payloads generated
    and decoded inside mapInPandas; checksums match a driver-side
    re-encode of the same deterministic payloads."""
    import hashlib

    import numpy as np

    from data_eng_taxi_ibis_dagster_spark.operators.multimodal import (
        encode_bmp,
        extract_features,
        synthetic_media,
    )

    docs = load_table(spark, sf_dir, "documents").limit(30)
    feats = extract_features(synthetic_media(docs)).toPandas()
    assert len(feats) == 30
    by_mime = feats.groupby("mime").size().to_dict()
    assert set(by_mime) == {"image/bmp", "image/x-portable-pixmap",
                            "image/png", "image/jpeg", "image/gif",
                            "audio/wav"}
    img = feats[feats["mime"].str.startswith("image/")]
    assert (img["width"] == 16).all() and (img["height"] == 16).all()
    assert img["feat_mean"].between(0, 255).all()
    assert feats["decode_error"].isna().all()
    wav = feats[feats["mime"] == "audio/wav"]
    assert (wav["duration_ms"] == 50).all()      # 800 samples @ 16 kHz
    assert (wav["sample_rate"] == 16000).all()
    assert wav["feat_mean"].between(0.0, 1.0).all()
    # checksum parity: rebuild one BMP payload driver-side
    bmp = feats[feats["mime"] == "image/bmp"]
    did = int(bmp["media_id"].iloc[0])
    side = 16
    base = np.arange(side * side * 3, dtype=np.int64)
    pixels = ((base * (did % 251 + 1) + did) % 256
              ).astype(np.uint8).reshape(side, side, 3)
    expect = hashlib.md5(encode_bmp(pixels)).hexdigest()
    assert bmp.set_index("media_id").loc[did, "checksum"] == expect


def test_multimodal_resize_real_codecs(spark, sf_dir):
    """BMP/PPM/PNG payloads resize FOR REAL: decode → nearest-neighbor
    → re-encode in the same format; the resized payload decodes to the
    target dimensions and matches a driver-side resample bit-for-bit.
    Audio (WAV) falls back to the byte-stride stub."""
    import numpy as np

    from data_eng_taxi_ibis_dagster_spark.operators.multimodal import (
        _IMAGE_CODECS,
        _nn_resample,
        extract_features,
        resize_media,
        synthetic_media,
    )

    docs = load_table(spark, sf_dir, "documents").limit(16)
    media = synthetic_media(docs)
    small = resize_media(media, target_width=4, target_height=4)
    feats = extract_features(small).toPandas()
    img = feats[feats["mime"].str.startswith("image/")]
    assert len(img) > 0
    assert (img["width"] == 4).all() and (img["height"] == 4).all()
    assert img["decode_error"].isna().all()
    # bit-exact vs a driver-side decode → resample → re-encode
    orig = media.toPandas().set_index("media_id")
    got = small.toPandas().set_index("media_id")
    for mid, row in orig.iterrows():
        codec = _IMAGE_CODECS.get(row["mime"])
        if codec is None:
            continue
        decode, encode = codec
        expect = encode(_nn_resample(decode(bytes(row["payload"])), 4, 4))
        assert bytes(got.loc[mid, "payload"]) == expect, (mid, row["mime"])


def test_multimodal_phash_cross_format_dedup(spark, sf_dir):
    """pHash image near-dedup: every original image must pair with its
    resized-and-PNG-normalized twin at hamming 0 (the hash is invariant
    to NN resampling + lossless re-encode, including JPEG sources), and
    the banded join must emit nothing above the threshold."""
    from data_eng_taxi_ibis_dagster_spark.plans.registry import get

    pdf = get("multimodal_phash_dedup").builder(spark, sf_dir).toPandas()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    img_ids = [r[0] for r in docs.select("doc_id").collect() if r[0] % 6 != 2]
    twin = pdf[pdf["doc_b"] - pdf["doc_a"] == 1_000_000]
    assert set(twin["doc_a"]) == set(img_ids)  # completeness
    assert (twin["hamming"] == 0).all()
    assert (pdf["hamming"] <= 6).all()
    # deterministic run-to-run
    again = get("multimodal_phash_dedup").builder(spark, sf_dir).toPandas()
    assert pdf.values.tolist() == again.values.tolist()


def test_multimodal_audio_fingerprint_dedup(spark, sf_dir):
    """Audio spectral-fingerprint dedup: every same-tone-class WAV pair
    (identical payloads by construction) surfaces at hamming 0; all
    emitted pairs respect the threshold; deterministic run-to-run."""
    import itertools

    from data_eng_taxi_ibis_dagster_spark.plans.registry import get

    pdf = get("multimodal_audio_dedup").builder(spark, sf_dir).toPandas()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wav_ids = [r[0] for r in docs.select("doc_id").collect() if r[0] % 6 == 2]
    by_class: dict[int, list[int]] = {}
    for d in wav_ids:
        by_class.setdefault(d % 40, []).append(d)
    expected_exact = {
        (a, b)
        for ids in by_class.values()
        for a, b in itertools.combinations(sorted(ids), 2)
    }
    got = set(zip(pdf["doc_a"], pdf["doc_b"]))
    assert expected_exact <= got  # completeness on identical payloads
    exact = pdf[[(a, b) in expected_exact
                 for a, b in zip(pdf["doc_a"], pdf["doc_b"])]]
    assert (exact["hamming"] == 0).all()
    assert (pdf["hamming"] <= 2).all()
    again = get("multimodal_audio_dedup").builder(spark, sf_dir).toPandas()
    assert pdf.values.tolist() == again.values.tolist()


def test_multimodal_resize_schema_preserving(spark, sf_dir):
    from data_eng_taxi_ibis_dagster_spark.operators.multimodal import (
        extract_features,
        resize_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = documents_as_media(docs)
    small = resize_media(media, target_width=8, target_height=8)
    # schema-preserving (names+types; nullability differs by source): composes
    assert dict(small.dtypes) == dict(media.dtypes)
    pdf = small.toPandas()
    assert (pdf["payload"].map(len) <= 64).all()
    assert (pdf["meta_width"] == 8).all()
    # decimation keeps first byte and is deterministic
    orig = media.toPandas().set_index("media_id")["payload"]
    for mid, p in zip(pdf["media_id"], pdf["payload"]):
        raw = bytes(orig[mid])
        assert bytes(p)[0:1] == raw[0:1]
    # composes with feature extraction
    feats = extract_features(small).toPandas()
    assert (feats["n_bytes"] <= 64).all()


def test_bloom_filter_no_false_negatives_and_prunes(spark):
    """The bloom pre-filter must pass EVERY build key (no false
    negatives — exactness depends on it) and actually prune: the
    false-positive rate at the design load factor stays well under the
    ~8% analytic bound for m=2^17, k=3, n=2000."""
    from data_eng_taxi_ibis_dagster_spark.operators.bloom import (
        build_bloom,
        might_contain,
    )
    from data_eng_taxi_ibis_dagster_spark.sources.tables import from_rows

    keys = from_rows(spark, [(i,) for i in range(2000)], ["k"])
    bitmap = build_bloom(keys, "k")
    probe = from_rows(spark, [(i,) for i in range(20000)], ["k"])
    hits = (probe.filter(might_contain(bitmap, F.col("k")))
            .toPandas()["k"].tolist())
    assert set(range(2000)) <= set(hits)          # no false negatives
    fp = (len(hits) - 2000) / 18000
    assert fp < 0.08, f"false-positive rate {fp:.3f}"


def test_adpcm_compressed_audio_through_spark(spark):
    """IMA ADPCM (compressed audio, WAV fmt 0x11) decodes through the
    same Arrow extract_features path as PCM: 4:1 compression on the
    wire, reconstruction within ADPCM's ~28 dB SNR, identical feature
    schema."""
    import numpy as np

    from data_eng_taxi_ibis_dagster_spark.operators.adpcm import (
        encode_wav_adpcm,
    )
    from data_eng_taxi_ibis_dagster_spark.operators.multimodal import (
        decode_wav,
        extract_features,
    )
    from data_eng_taxi_ibis_dagster_spark.operators.multimodal import (
        MEDIA_SCHEMA,
    )

    t = np.arange(800)
    rows = []
    for i, freq in enumerate((110.0, 220.0, 440.0)):
        pcm = (np.sin(2 * np.pi * freq * t / 16000) * 12000) \
            .astype(np.int16)
        rows.append((i, "audio/wav", bytearray(encode_wav_adpcm(pcm)),
                     None, None, 50))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = extract_features(media).toPandas().set_index("media_id")
    assert feats["decode_error"].isna().all()
    assert (feats["duration_ms"] == 50).all()
    assert (feats["sample_rate"] == 16000).all()
    # RMS of a 12000-amplitude sine ≈ 0.259 — ADPCM must land close
    assert feats["feat_mean"].between(0.25, 0.27).all()
    # driver-side decode agrees with the Spark-side decode
    direct = decode_wav(bytes(rows[0][2]))
    assert abs(direct["feat_mean"] - feats.loc[0, "feat_mean"]) < 1e-12


def test_domain_cap_two_stage_equals_single_window(spark, sf_dir):
    """The map-side pre-thin in ``domain_cap_sample`` is lossless: the
    two-stage plan must return exactly the rows of the naive
    single-window-per-source formulation, independent of how the scan
    partitions the input."""
    from pyspark.sql import Window, functions as F

    from data_eng_taxi_ibis_dagster_spark.plans.registry import all_specs
    from data_eng_taxi_ibis_dagster_spark.sources.tables import load_table

    got = all_specs()["domain_cap_sample"].builder(spark, sf_dir).collect()

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("text").cast("binary")), F.col("doc_id"))
    want = (
        docs.select("doc_id", "source",
                    F.row_number().over(w).alias("pick_rank"))
        .filter(F.col("pick_rank") <= 10)
        .orderBy("source", "pick_rank")
        .collect()
    )
    assert got == want
    # and the thinned plan really carries the local pre-rank window
    plan = physical_plan(all_specs()["domain_cap_sample"].builder(spark, sf_dir))
    assert "_pid" in plan


def test_json_bigint_roundtrip_past_2_53(spark):
    """Round-12 adversarial class pinned in-repo: a JSON integer at
    2^53+1 must round-trip EXACTLY through the typed parse on both
    engines — a double-typed parse would round to 2^53, an int32
    schema nulls/errors it."""
    import duckdb

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, '{"k": 9007199254740993}')], "event_id int, props string")
    got = df.select(
        F.from_json("props", "k BIGINT").getField("k").alias("k")
    ).first()["k"]
    assert got == 9007199254740993
    con = duckdb.connect()
    want = con.execute(
        "SELECT CAST(json_extract('{\"k\": 9007199254740993}', '$.k')"
        " AS BIGINT)").fetchone()[0]
    assert got == want


def test_int8_quantize_zero_and_signed_zero_vectors(spark):
    """Round-12 adversarial class pinned in-repo: the zero vector
    quantizes to all-zeros with scale 0.0 (no ANSI DIVIDE_BY_ZERO),
    and a signed-zero max-abs renders as 0.0, not -0.0 (the driver
    hashes rendered strings)."""
    import os
    import tempfile

    import pandas as pd

    from data_eng_taxi_ibis_dagster_spark.plans.registry import all_specs

    d = tempfile.mkdtemp()
    pd.DataFrame({
        "vec_id": [1, 2, 3],
        "embedding": [[0.0, 0.0], [-0.0, 0.0], [3.0, -4.0]],
        "label": [0, 0, 0],
    }).to_parquet(os.path.join(d, "embeddings.parquet"))
    out = (all_specs()["embedding_quantize_int8"].builder(spark, d)
           .toPandas().set_index("vec_id"))
    assert out.loc[1, "q_str"] == "0,0" and out.loc[1, "scale_abs"] == 0.0
    assert str(out.loc[2, "scale_abs"]) == "0.0"  # not "-0.0"
    assert out.loc[3, "q_min"] == -127
