"""Targeted operator unit tests for semantics the oracle can't isolate:
session-window gap boundaries (SURVEY §7.4.2), as-of inclusivity, batching."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from apachebeam_python_spark.operators import aggregations as agg
from apachebeam_python_spark.operators import event_time as ET
from apachebeam_python_spark.operators import joins as J


def _ts(minute, second=0):
    return dt.datetime(2024, 1, 1, 0, minute, second)


def test_session_window_gap_boundary(spark):
    """An event exactly `gap` after the previous one MERGES into the session;
    only diff > gap starts a new one — the semantics our oracle SQL mirrors."""
    rows = [
        (1, _ts(0)), (1, _ts(9, 59)),        # merged: diff < gap
        (1, _ts(19, 59)), (1, _ts(29, 59)),  # chained merges
        (2, _ts(0)), (2, _ts(10)),           # diff == gap → still merged
        (3, _ts(0)), (3, _ts(10, 1)),        # diff > gap → NEW session
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = ET.session(df, "ts", "10 minutes", keys=["user_id"], n=F.count("*"))
    got = {(r.user_id, r.session_start, r.session_end, r.n) for r in out.collect()}
    assert got == {
        (1, _ts(0), _ts(39, 59), 4),
        (2, _ts(0), _ts(20), 2),
        (3, _ts(0), _ts(10), 1),
        (3, _ts(10, 1), _ts(20, 1), 1),
    }


def test_asof_join_inclusive_at_equal_ts(spark):
    """A right row at exactly the left timestamp IS visible (≤ semantics)."""
    left = spark.createDataFrame([(1, _ts(5)), (1, _ts(3))], "k long, ts timestamp")
    right = spark.createDataFrame(
        [(1, _ts(5), 50.0), (1, _ts(1), 10.0)], "k long, ts timestamp, v double"
    )
    out = J.asof_join_union(left, right, ["k"], "ts", "ts", "v")
    got = {(r.ts, r.asof_value) for r in out.collect()}
    assert got == {(_ts(5), 50.0), (_ts(3), 10.0)}


def test_asof_join_no_prior_right_is_null(spark):
    left = spark.createDataFrame([(1, _ts(0))], "k long, ts timestamp")
    right = spark.createDataFrame([(1, _ts(1), 1.0)], "k long, ts timestamp, v double")
    out = J.asof_join_union(left, right, ["k"], "ts", "ts", "v")
    assert out.collect()[0].asof_value is None


def test_group_into_batches_sizes(spark):
    df = spark.createDataFrame([(1, i) for i in range(7)], "k long, v long")
    out = agg.group_into_batches(df, ["k"], "v", 3)
    batches = sorted(r.batch for r in out.collect())
    assert batches == [[0, 1, 2], [3, 4, 5], [6]]


def test_tumbling_epoch_alignment(spark):
    """Windows align to the epoch, not to the first event."""
    df = spark.createDataFrame([(1, _ts(59, 30)), (1, dt.datetime(2024, 1, 1, 1, 0, 30))],
                               "k long, ts timestamp")
    out = ET.tumbling(df, "ts", "1 hour", n=F.count("*"))
    starts = sorted(r.window_start for r in out.collect())
    assert starts == [dt.datetime(2024, 1, 1, 0, 0), dt.datetime(2024, 1, 1, 1, 0)]


def test_ann_recall_vs_brute_force(spark, sf_dir):
    """Both ANN arms must recover enough of the true top-5 neighbors on the
    fixture embeddings: hyperplane LSH ≥ 0.5 at (8 tables × 4 bits), IVF
    ≥ 0.6 at (16 cells, 4 probes)."""
    from apachebeam_python_spark import queries as q

    bf = {(r.query_id, r.neighbor_id) for r in q.QUERIES["q_cosine_topk"](spark, sf_dir).collect()}
    ann = q.QUERIES["q_ann_lsh"](spark, sf_dir).persist()
    try:
        lsh = {(r.query_id, r.neighbor_id) for r in ann.filter(ann.method == "lsh").collect()}
        ivf = {(r.query_id, r.neighbor_id) for r in ann.filter(ann.method == "ivf").collect()}
    finally:
        ann.unpersist()
    assert len(bf & lsh) / len(bf) >= 0.5, f"lsh recall {len(bf & lsh) / len(bf):.3f}"
    assert len(bf & ivf) / len(bf) >= 0.6, f"ivf recall {len(bf & ivf) / len(bf):.3f}"


def test_hll_rollup_accuracy(spark, sf_dir):
    """Union-of-partials estimate must track the exact distinct count
    (lgK=12 keeps relative error well under 5% at fixture cardinalities)."""
    from apachebeam_python_spark import queries as q
    from apachebeam_python_spark.session import table

    got = {r.event_type: r.approx_users for r in q.QUERIES["q_hll_rollup"](spark, sf_dir).collect()}
    exact = {
        r.event_type: r.nd
        for r in table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("nd"))
        .collect()
    }
    assert set(got) == set(exact)
    for k in exact:
        assert abs(got[k] - exact[k]) / exact[k] < 0.05, (k, got[k], exact[k])


def test_rolling_distinct_hll_error_bound(spark, sf_dir):
    """The sketch form of rolling DAU must track the exact range-join form
    day-for-day within 5% (VERDICT r2 #6) — same day grid, same window."""
    from apachebeam_python_spark import queries as q

    got = {
        r.day: r.active_7d_approx
        for r in q.QUERIES["q_rolling_distinct_hll"](spark, sf_dir).collect()
    }
    exact = {
        r.day: r.active_7d
        for r in q.QUERIES["q_rolling_distinct"](spark, sf_dir).collect()
    }
    assert set(got) == set(exact), "day grids differ between exact and sketch"
    for day, nd in exact.items():
        assert abs(got[day] - nd) / nd < 0.05, (day, got[day], nd)


def test_resample_interp_known_values(spark):
    """ffill carries the last observation; linterp blends bracketing obs by
    time fraction; exact hits return the observation itself."""
    import datetime as dt

    from apachebeam_python_spark.operators import event_time as ET2

    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, base, 10.0), (1, base + dt.timedelta(hours=4), 30.0)],
        "k long, ts timestamp, value double",
    )
    ff = {r.grid_ts.hour: r.ffill_value
          for r in ET2.resample_ffill(df, "ts", "value", ["k"], "1 hour").collect()}
    assert ff == {0: 10.0, 1: 10.0, 2: 10.0, 3: 10.0, 4: 30.0}
    li = {r.grid_ts.hour: r.interp_value
          for r in ET2.resample_linterp(df, "ts", "value", ["k"], "1 hour").collect()}
    assert li == {0: 10.0, 1: 15.0, 2: 20.0, 3: 25.0, 4: 30.0}


def test_rawi_roundtrip_and_resize():
    import numpy as np

    from apachebeam_python_spark.operators import multimodal as M

    img = (np.arange(6 * 4 * 3) % 256).astype(np.uint8).reshape(6, 4, 3)
    assert (M.decode_rawi(M.encode_rawi(img)) == img).all()
    # nearest-neighbour doubling repeats each pixel 2x2
    up = M.resize_nearest(img, 12, 8)
    assert up.shape == (12, 8, 3)
    assert (up[::2, ::2] == img).all() and (up[1::2, 1::2] == img).all()
    # corrupt payloads fail loudly
    import pytest as _pytest

    with _pytest.raises(ValueError):
        M.decode_rawi(b"JUNK" + bytes(20))
    with _pytest.raises(ValueError):
        M.decode_rawi(M.encode_rawi(img)[:-1])


def test_ppm_bmp_codecs_roundtrip():
    """Pure-Python PPM/BMP decode (VERDICT r2 #5): byte-exact round trips,
    BMP row padding (w*3 not a multiple of 4), top-down BMPs, PPM header
    comments, and decode_image format sniffing."""
    import numpy as np
    import pytest as _pytest

    from apachebeam_python_spark.operators import multimodal as M

    # w=5 → row 15 bytes → 1 pad byte per BMP row
    img = (np.arange(7 * 5 * 3) * 11 % 256).astype(np.uint8).reshape(7, 5, 3)
    assert (M.decode_ppm(M.encode_ppm(img)) == img).all()
    assert (M.decode_bmp(M.encode_bmp(img)) == img).all()
    # decode_image sniffs all three container formats
    for enc in (M.encode_rawi, M.encode_ppm, M.encode_bmp):
        assert (M.decode_image(enc(img)) == img).all()
    # PPM comments and extra whitespace in the header are part of the grammar
    ppm = b"P6\n# synthetic test image\n 5  7 \n# another comment\n255\n" + img.tobytes()
    assert (M.decode_ppm(ppm) == img).all()
    # top-down BMP (negative height) must decode to the same pixels
    bu = bytearray(M.encode_bmp(img))
    bu[22:26] = (-7).to_bytes(4, "little", signed=True)
    stride = (5 * 3 + 3) // 4 * 4
    body = b"".join(
        img[y, :, ::-1].tobytes() + b"\x00" * ((-(5 * 3)) % 4) for y in range(7)
    )
    assert (M.decode_bmp(bytes(bu[:54]) + body) == img).all()
    # unknown magic fails loudly, naming what IS supported (WebP is the
    # documented swap-in gap now that PNG/JPEG/GIF decode natively)
    with _pytest.raises(NotImplementedError):
        M.decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 " + bytes(30))
    with _pytest.raises(NotImplementedError):
        M.decode_bmp(M.encode_bmp(img)[:28] + (8).to_bytes(2, "little") + M.encode_bmp(img)[30:])


def test_wav_codec_roundtrip():
    """PCM WAV decode: byte-exact round trips (mono + stereo), RIFF chunk
    walking past inserted LIST chunks, and loud failures for compressed
    or non-16-bit payloads."""
    import numpy as np
    import pytest as _pytest

    from apachebeam_python_spark.operators import multimodal as M

    mono = ((np.arange(100) * 37) % 2000 - 1000).astype("<i2")
    out, rate = M.decode_wav(M.encode_wav(mono, sample_rate=8000))
    assert rate == 8000 and (out[:, 0] == mono).all()
    stereo = np.stack([mono, -mono], axis=1).astype("<i2")
    out2, _ = M.decode_wav(M.encode_wav(stereo))
    assert out2.shape == (100, 2) and (out2 == stereo).all()
    # a LIST chunk between fmt and data must not break the walker
    wav = M.encode_wav(mono)
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + (4).to_bytes(4, "little") + b"INFO"
    patched = wav[:fmt_end] + extra + wav[fmt_end:]
    out3, _ = M.decode_wav(patched)
    assert (out3[:, 0] == mono).all()
    with _pytest.raises(ValueError):
        M.decode_wav(b"OggS" + bytes(40))
    # format 3 (IEEE float) is compressed-path territory
    bad = bytearray(wav)
    bad[20:22] = (3).to_bytes(2, "little")
    with _pytest.raises(NotImplementedError):
        M.decode_wav(bytes(bad))


def test_image_features_pipeline(spark, sf_dir):
    import numpy as np

    from apachebeam_python_spark.operators import multimodal as M
    from apachebeam_python_spark.session import table

    docs = table(spark, sf_dir, "documents").select("doc_id").limit(50)
    feats = M.image_features(M.synth_images(docs)).collect()
    assert len(feats) == 50
    for r in feats:
        w = 8 + r.doc_id % 16
        h = 8 + r.doc_id % 12
        assert (r.width, r.height) == (w, h)
        expected_len = {
            0: 9 + h * w * 3,                              # RAWI
            1: 9 + len(str(w)) + len(str(h)) + h * w * 3,  # PPM
            2: 54 + h * ((w * 3 + 3) // 4 * 4),            # BMP + row padding
        }[r.doc_id % 3]
        assert r.byte_len == expected_len, (r.doc_id, r.byte_len, expected_len)
        # recompute the thumbnail mean independently
        a = ((r.doc_id + np.arange(h * w * 3)) % 256).reshape(h, w, 3)
        t = M.resize_nearest(a, 8, 8)
        assert abs(r.mean_r - round(float(t.reshape(-1, 3)[:, 0].mean()), 4)) < 1e-9


def test_weighted_sample_exact_python_replay(spark, sf_dir):
    """The A-ES draw must be exactly replayable from the same hash values —
    proving determinism AND the scoring rule."""
    import math

    from pyspark.sql import functions as F

    from apachebeam_python_spark.operators.aggregations import weighted_sample
    from apachebeam_python_spark.session import table

    d = table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("n_chars").cast("double")).alias("w")
    )
    got = [r["doc_id"] for r in weighted_sample(d, "w", "doc_id", 25).collect()]

    rows = d.withColumn("h", F.shiftrightunsigned(F.xxhash64("doc_id", F.lit(0)), 11)).collect()
    scored = sorted(
        ((math.pow(r["h"] / float(1 << 53), 1.0 / r["w"]), r["doc_id"]) for r in rows if r["w"] > 0),
        key=lambda t: (-t[0], t[1]),
    )
    want = [i for _, i in scored[:25]]
    assert got == want

    # determinism across invocations
    again = [r["doc_id"] for r in weighted_sample(d, "w", "doc_id", 25).collect()]
    assert got == again


def test_weighted_sample_prefers_heavy_rows(spark):
    """Statistical sanity: across seeds, a 10x-weight row appears far more
    often than a 1x row."""
    from pyspark.sql import functions as F

    from apachebeam_python_spark.operators.aggregations import weighted_sample

    rows = [(i, 10.0 if i < 20 else 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, w double")
    heavy = 0
    for seed in range(10):
        picked = {r["id"] for r in weighted_sample(df, "w", "id", 20, seed=seed).collect()}
        heavy += len([i for i in picked if i < 20])
    # 20 heavy rows carry 200/380 ≈ 53% of the mass but are only 10% of rows
    assert heavy >= 60, f"heavy rows picked only {heavy}/200 times"


def test_compress_ratio_exact_zlib_replay(spark, sf_dir):
    """q_compress_ratio has no SQL oracle (zlib) — its proof is an EXACT
    replay: the same zlib level-6 call on the same fixture bytes must give
    identical rounded ratios and bands for every document."""
    import zlib
    from decimal import ROUND_HALF_UP, Decimal

    from apachebeam_python_spark import queries as q

    got = {
        r["doc_id"]: (r["ratio"], r["band"])
        for r in q.QUERIES["q_compress_ratio"](spark, sf_dir).collect()
    }
    import duckdb

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    assert len(got) == len(rows)

    def round_half_up(v: float) -> float:
        # Spark's round() on doubles is BigDecimal HALF_UP over the shortest
        # decimal repr; Python's built-in round() is half-even — replaying
        # with the wrong mode fails on exact boundaries (93/128 = 0.7265625)
        return float(Decimal(repr(v)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    for doc_id, text in rows:
        raw = (text or "").encode("utf-8")
        ratio = round_half_up(len(zlib.compress(raw, 6)) / len(raw)) if raw else 0.0
        band = (
            "low_entropy"
            if ratio < 0.35
            else ("high_entropy" if ratio > 0.9 else "normal")
        )
        assert got[doc_id] == (ratio, band), (doc_id, got[doc_id], ratio, band)
    # the fixture word-soup corpus must actually exercise the scorer
    assert any(v[0] > 0 for v in got.values())


def test_quantile_histogram_rollup_error_bound(spark, sf_dir):
    """The interpolated histogram quantile can be off by at most one bin
    width (8.0) from the exact percentile — the sketch's guarantee."""
    from apachebeam_python_spark import queries as q

    r = q.QUERIES["q_quantile_histogram_rollup"](spark, sf_dir).collect()[0]
    assert abs(r.est_p50 - r.exact_p50) <= 8.0, r
    assert abs(r.est_p90 - r.exact_p90) <= 8.0, r


def test_bootstrap_ci_brackets_mean(spark, sf_dir):
    """The Poisson-bootstrap 95% interval must bracket the point estimate
    and have positive width (100 deterministic replicas)."""
    from apachebeam_python_spark import queries as q

    r = q.QUERIES["q_bootstrap_ci"](spark, sf_dir).collect()[0]
    assert r.n_replicas == 100, r
    assert r.ci_lo < r.mean < r.ci_hi, r
    assert 0 < (r.ci_hi - r.ci_lo) < r.mean, r


def test_binary_hamming_two_tier_recall(spark, sf_dir):
    """Two-tier retrieval: ≥ 70% of the exact cosine top-5 must appear in
    the binary-code Hamming top-50 candidate set (the prefilter→re-rank
    contract of q_binary_hamming; measured 0.79 at sf0.01, 0.74 at
    sf0.001). Also pins the packing: Hamming(q,q) = 0."""
    from apachebeam_python_spark import queries as q
    from apachebeam_python_spark.operators import similarity as SIM
    from apachebeam_python_spark.session import table

    bf = {(r.query_id, r.neighbor_id)
          for r in q.QUERIES["q_cosine_topk"](spark, sf_dir).collect()}
    e = table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 40 == 0)
    cand = {(r.query_id, r.neighbor_id)
            for r in SIM.binary_hamming_topk(
                e, queries, "embedding", "vec_id", k=50, dim=64).collect()}
    recall = len(bf & cand) / len(bf)
    assert recall >= 0.7, f"two-tier recall {recall:.3f} < 0.7"


def test_avro_lite_round_trip_edge_cases(spark, tmp_path):
    """The pure-Python Avro container codec must round-trip the encodings
    the fixture never exercises: negative longs (zigzag), large longs
    (multi-byte varint), NULLs in union fields, and exact doubles."""
    from apachebeam_python_spark.sources.avro_lite import read_avro, write_avro

    rows = [
        (-1, "neg one", -0.5),
        (0, "", 0.0),
        (2**40 + 7, "big", 1.25e300),
        (None, None, None),
        (63, "sixty three", -2.5e-300),
        (64, "boundary", float("inf")),
    ]
    df = spark.createDataFrame(rows, "k long, s string, v double")
    key = lambda t: (t[0] is None, t[0] if t[0] is not None else 0)  # noqa: E731
    expect = sorted(rows, key=key)
    for codec in ("null", "deflate", "bzip2"):
        out = str(tmp_path / f"avro_rt_{codec}")
        write_avro(df, out, codec=codec)
        back = sorted(
            ((r.k, r.s, r.v) for r in read_avro(spark, out).collect()), key=key
        )
        assert back == expect, (codec, back)


def test_avro_lite_spec_and_corruption_hardening(tmp_path):
    """Spec conformance + corruption safety the round trip can't reach:
    (1) a metadata map written with a NEGATIVE block count (abs(count)
    items preceded by ONE total-byte-size long — the spec's other legal
    encoding, emitted by some writers) must parse identically; (2) a
    corrupt/truncated stream must raise ValueError, never loop forever on
    Python's negative indexing (review r3 finding — verified hang); (3) a
    schema peek must touch only the header, not the data blocks."""
    from apachebeam_python_spark.sources import avro_lite as al

    schema = {
        "type": "record",
        "name": "Row",
        "fields": [{"name": "k", "type": "long"}],
    }
    schema_b = __import__("json").dumps(schema).encode()
    # negative-count map: count=-2, ONE size long, then the 2 items
    items = (
        al._enc_str("avro.schema")
        + al._enc_long(len(schema_b))
        + schema_b
        + al._enc_str("avro.codec")
        + al._enc_long(4)
        + b"null"
    )
    enc_row = al._enc_long(21)
    body = al._enc_long(1) + al._enc_long(len(enc_row)) + enc_row + al._SYNC
    payload = (
        al._MAGIC
        + al._enc_long(-2)
        + al._enc_long(len(items))
        + items
        + al._enc_long(0)
        + al._SYNC
        + body
    )
    got_schema, rows = al._decode_blocks(payload)
    assert got_schema == schema and rows == [{"k": 21}]

    # corrupt varints/lengths must terminate with ValueError (not hang)
    import pytest as _pytest

    for bad in (
        al._MAGIC + al._enc_long(-2) + b"\xff\xff",  # truncated size varint
        al._MAGIC + al._enc_long(1) + al._enc_long(-5),  # negative key length
        payload[:-4],  # truncated final block
    ):
        with _pytest.raises((ValueError, KeyError)):
            al._decode_blocks(bad)

    # header peek: schema comes back without decoding row data (the row
    # region here is garbage that would raise if touched)
    f = tmp_path / "part-x.avro"
    f.write_bytes(payload[: -len(body)] + b"\xff" * 64)
    assert al._read_header(str(f)) == schema


def test_avro_stream_sink_commit_replay_idempotent(tmp_path):
    """AvroLiteStreamWriter.commit must be last-attempt-wins under batch
    replay: a driver failure after rename but before the checkpoint
    re-executes the batch with NEW task uuids, and without the stale-file
    sweep both attempts' files survive and double the batch (review r3)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from apachebeam_python_spark.sources.pyds import (
        AvroLiteCommit,
        AvroLiteStreamWriter,
    )

    schema = StructType([StructField("k", LongType(), True)])
    w = AvroLiteStreamWriter({"path": str(tmp_path)}, schema)

    def attempt(rows):
        msg = w.write(iter(rows))
        return msg

    # attempt 1 of batch 3: writes + commit renames into place
    w.commit([attempt([(1,), (2,)])], 3)
    first = sorted(p.name for p in tmp_path.glob("batch-000003-*.avro"))
    assert len(first) == 1
    # replay of batch 3 (new uuid): must REPLACE, not append alongside
    w.commit([attempt([(1,), (2,)])], 3)
    second = sorted(p.name for p in tmp_path.glob("batch-000003-*.avro"))
    assert len(second) == 1 and second != first
    # a different batch id is untouched by the sweep
    w.commit([attempt([(7,)])], 4)
    assert len(list(tmp_path.glob("batch-000003-*.avro"))) == 1
    assert len(list(tmp_path.glob("batch-000004-*.avro"))) == 1


def test_binary_codes_dim_not_multiple_of_32(spark):
    """binary_codes advertises ceil(dim/32) packing for ANY dim — tail
    positions past dim must pack as 0 bits instead of tripping Spark 4's
    ANSI out-of-bounds on element_at (review r3 finding)."""
    from apachebeam_python_spark.operators.similarity import binary_codes

    df = spark.createDataFrame(
        [(1, [1.0] * 48), (2, [-1.0] * 48)], "vec_id long, embedding array<double>"
    )
    rows = {r.vec_id: r.code for r in binary_codes(df, "embedding", "vec_id", 48).collect()}
    # word 0: 32 one-bits; word 1: positions 32..47 carry weights 2^0..2^15
    # (MSB-first fold), the 16 past-dim pads are the high zero bits
    assert rows[1] == [(1 << 32) - 1, 0xFFFF]
    assert rows[2] == [0, 0]


def _flac_streaminfo(FL, n, ch, rate=8000, bps=16):
    si = FL._BitWriter()
    si.write(16, 16); si.write(65535, 16); si.write(0, 24); si.write(0, 24)
    si.write(rate, 20); si.write(ch - 1, 3); si.write(bps - 1, 5); si.write(n, 36)
    b = si.tobytes() + b"\x00" * 16
    return b"fLaC" + bytes([0x80]) + len(b).to_bytes(3, "big") + b


def _flac_frame_header(FL, bw, bs, ch_assign):
    bw.write(0x3FFE, 14); bw.write(0, 1); bw.write(0, 1)
    bw.write(7, 4)   # explicit 16-bit block size
    bw.write(0, 4)   # rate from STREAMINFO
    bw.write(ch_assign, 4)
    bw.write(4, 3); bw.write(0, 1)  # 16-bit samples
    bw.write(0, 8)   # frame 0
    bw.write(bs - 1, 16)
    bw.write(FL._crc8(bw.tobytes()), 8)


def _flac_finish(FL, bw):
    bw.align()
    f = bw.tobytes()
    return f + FL._crc16(f).to_bytes(2, "big")


def test_flac_codec_round_trip():
    """FLAC: encoder→decoder round trip (verbatim subframes, fixed
    blocking, multi-frame, mono + stereo, CRC-8/CRC-16 verified on every
    frame) and dispatch through the audio sniffer."""
    import numpy as np

    from apachebeam_python_spark.operators.flac_lite import decode_flac, encode_flac
    from apachebeam_python_spark.operators.multimodal import decode_audio

    rng = np.random.default_rng(3)
    s = rng.integers(-32768, 32768, size=300, dtype=np.int16)
    back, rate = decode_flac(encode_flac(s, 8000, blocksize=128))
    assert rate == 8000 and np.array_equal(back[:, 0], s)
    back2, rate2 = decode_audio(encode_flac(s, 8000, blocksize=128))
    assert rate2 == 8000 and np.array_equal(back2[:, 0], s)

    s2 = rng.integers(-32768, 32768, size=(5000, 2), dtype=np.int16)
    back, rate = decode_flac(encode_flac(s2, 44100))
    assert rate == 44100 and np.array_equal(back, s2)

    extremes = np.array([0, -1, 32767, -32768], dtype=np.int16)
    back, _ = decode_flac(encode_flac(extremes))
    assert np.array_equal(back[:, 0], extremes)

    # zero samples: FLAC cannot express a 0-sample frame — the encoder
    # must emit a frameless stream and the decoder a (0, ch) array
    back, rate = decode_flac(encode_flac(np.zeros((0,), np.int16), 8000))
    assert back.shape == (0, 1) and rate == 8000


def test_flac_decoder_prediction_and_stereo_modes():
    """Hand-built FLAC frames for the paths the verbatim encoder never
    emits: CONSTANT, FIXED order 2 with Rice residuals over 2 partitions,
    LPC with an escape (raw-width) partition, wasted bits, and all three
    stereo decorrelation modes (left/side, right/side, mid/side).
    Residuals are computed FORWARD here (independent arithmetic), so a
    reconstruction bug cannot self-confirm."""
    import numpy as np

    from apachebeam_python_spark.operators import flac_lite as FL

    def rice_write(bw, residuals, param, po=0, order=0):
        bw.write(0, 2); bw.write(po, 4)
        bs = len(residuals) + order
        idx = 0
        for p in range(1 << po):
            n = (bs >> po) - (order if p == 0 else 0)
            bw.write(param, 4)
            for _ in range(n):
                r = residuals[idx]; idx += 1
                v = (-r * 2 - 1) if r < 0 else r * 2  # FLAC signed folding
                for _ in range(v >> param):
                    bw.bits.append(0)
                bw.bits.append(1)
                bw.write(v & ((1 << param) - 1), param)

    def verb(bw, vals, bits):
        bw.write(0, 1); bw.write(1, 6); bw.write(0, 1)
        for v in vals:
            bw.write_signed(int(v), bits)

    # CONSTANT
    bw = FL._BitWriter(); _flac_frame_header(FL, bw, 10, 0)
    bw.write(0, 1); bw.write(0, 6); bw.write(0, 1)
    bw.write_signed(-123, 16)
    arr, _ = FL.decode_flac(_flac_streaminfo(FL, 10, 1) + _flac_finish(FL, bw))
    assert np.array_equal(arr[:, 0], np.full(10, -123))

    # FIXED order 2, Rice residuals, partition order 1
    want = np.array([5, 9, 12, 14, 15, 15, 14, 12], dtype=np.int64)
    res = [int(want[i] - (2 * want[i - 1] - want[i - 2])) for i in range(2, 8)]
    bw = FL._BitWriter(); _flac_frame_header(FL, bw, 8, 0)
    bw.write(0, 1); bw.write(10, 6); bw.write(0, 1)  # fixed order 2
    bw.write_signed(int(want[0]), 16); bw.write_signed(int(want[1]), 16)
    rice_write(bw, res, param=2, po=1, order=2)
    arr, _ = FL.decode_flac(_flac_streaminfo(FL, 8, 1) + _flac_finish(FL, bw))
    assert np.array_equal(arr[:, 0], want)

    # LPC order 2 (precision 12, shift 5), escape partition width 6
    coeffs, shift = [40, -12], 5
    sam = [100, 90]
    res = [3, -2, 0, 7, -5, 1]
    for r in res:
        sam.append(r + ((coeffs[0] * sam[-1] + coeffs[1] * sam[-2]) >> shift))
    bw = FL._BitWriter(); _flac_frame_header(FL, bw, 8, 0)
    bw.write(0, 1); bw.write(33, 6); bw.write(0, 1)  # LPC order 2
    bw.write_signed(100, 16); bw.write_signed(90, 16)
    bw.write(11, 4)           # precision 12
    bw.write_signed(shift, 5)
    bw.write_signed(coeffs[0], 12); bw.write_signed(coeffs[1], 12)
    bw.write(0, 2); bw.write(0, 4)
    bw.write(15, 4); bw.write(6, 5)  # escape, 6-bit raw
    for r in res:
        bw.write_signed(r, 6)
    arr, _ = FL.decode_flac(_flac_streaminfo(FL, 8, 1) + _flac_finish(FL, bw))
    assert np.array_equal(arr[:, 0], np.array(sam))

    # wasted bits: samples ≪ 2, verbatim at bps-2
    want = np.array([4, -8, 12, 0], dtype=np.int64)
    bw = FL._BitWriter(); _flac_frame_header(FL, bw, 4, 0)
    bw.write(0, 1); bw.write(1, 6)
    bw.write(1, 1)                       # wasted flag
    bw.bits.append(0); bw.bits.append(1)  # unary 1 → wasted = 2
    for v in want >> 2:
        bw.write_signed(int(v), 14)
    arr, _ = FL.decode_flac(_flac_streaminfo(FL, 4, 1) + _flac_finish(FL, bw))
    assert np.array_equal(arr[:, 0], want)

    # stereo decorrelation (side channel is bps+1 bits)
    L = np.array([100, -50, 7, 3200], dtype=np.int64)
    R = np.array([90, -60, -7, 3100], dtype=np.int64)
    bw = FL._BitWriter(); _flac_frame_header(FL, bw, 4, 8)  # left/side
    verb(bw, L, 16); verb(bw, L - R, 17)
    arr, _ = FL.decode_flac(_flac_streaminfo(FL, 4, 2) + _flac_finish(FL, bw))
    assert np.array_equal(arr, np.stack([L, R], 1))
    bw = FL._BitWriter(); _flac_frame_header(FL, bw, 4, 9)  # right/side
    verb(bw, L - R, 17); verb(bw, R, 16)
    arr, _ = FL.decode_flac(_flac_streaminfo(FL, 4, 2) + _flac_finish(FL, bw))
    assert np.array_equal(arr, np.stack([L, R], 1))
    bw = FL._BitWriter(); _flac_frame_header(FL, bw, 4, 10)  # mid/side
    verb(bw, (L + R) >> 1, 16); verb(bw, L - R, 17)
    arr, _ = FL.decode_flac(_flac_streaminfo(FL, 4, 2) + _flac_finish(FL, bw))
    assert np.array_equal(arr, np.stack([L, R], 1))

    # corrupted frame: flipped sample byte must fail the CRC-16
    import pytest as _pytest

    bw = FL._BitWriter(); _flac_frame_header(FL, bw, 4, 0)
    verb(bw, L, 16)
    good = _flac_streaminfo(FL, 4, 1) + _flac_finish(FL, bw)
    bad = bytearray(good)
    bad[-5] ^= 0x40
    with _pytest.raises(ValueError):
        FL.decode_flac(bytes(bad))

    # reserved sample-size code 3 → named ValueError, not a KeyError
    bw = FL._BitWriter()
    bw.write(0x3FFE, 14); bw.write(0, 1); bw.write(0, 1)
    bw.write(7, 4); bw.write(0, 4); bw.write(0, 4)
    bw.write(3, 3); bw.write(0, 1)  # size code 3 = reserved
    bw.write(0, 8); bw.write(3, 16)
    bw.write(FL._crc8(bw.tobytes()), 8)
    with _pytest.raises(ValueError, match="sample-size"):
        FL.decode_flac(_flac_streaminfo(FL, 4, 1) + _flac_finish(FL, bw))


def _webp_wrap(bw):
    p = bw.tobytes()
    v = b"VP8L" + len(p).to_bytes(4, "little") + p
    if len(p) & 1:
        v += b"\x00"
    return b"RIFF" + (4 + len(v)).to_bytes(4, "little") + b"WEBP" + v


def _webp_header(bw, w, h):
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)


def _webp_stream(W, bw, argbs):
    """Flat-coded entropy image (cache bit + 5 prefix codes + literals)."""
    bw.write(0, 1)
    W._emit_flat_code(bw, 24)
    W._emit_flat_code(bw, 0)
    W._emit_flat_code(bw, 0)
    W._emit_flat_code(bw, 0)
    W._emit_simple_single(bw, 0)
    for p in argbs:
        bw.write_code((p >> 8) & 0xFF, 8)
        bw.write_code((p >> 16) & 0xFF, 8)
        bw.write_code(p & 0xFF, 8)
        bw.write_code((p >> 24) & 0xFF, 8)


def test_webp_codec_round_trip_and_distance_map():
    """VP8L: encoder→decoder round trip (exercises normal prefix codes,
    the code-length code, and a repeat-18 zero run), dispatch through
    decode_image, and the spec's 2D distance-map ordering (first entries
    pinned; the generation rule reproduces the spec table)."""
    import numpy as np

    from apachebeam_python_spark.operators import webp_lite as W
    from apachebeam_python_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(11)
    for shape in [(1, 1, 3), (2, 3, 3), (16, 9, 3)]:
        a = rng.integers(0, 256, size=shape, dtype=np.uint8)
        payload = W.encode_webp(a)
        assert payload[:4] == b"RIFF" and payload[8:16] == b"WEBPVP8L"
        assert np.array_equal(W.decode_webp(payload), a)
        assert np.array_equal(decode_image(payload), a)  # sniffing dispatch

    assert len(W._DIST_MAP) == 120
    assert W._DIST_MAP[:12] == [
        (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0),
        (1, 2), (-1, 2), (2, 1), (-2, 1), (2, 2), (-2, 2),
    ]
    assert W._DIST_MAP[34:40] == [
        (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    ]


def test_webp_decoder_lz77_cache_and_simple_codes():
    """Hand-built VP8L streams for the paths the minimal encoder never
    emits: LZ77 with a plain distance (code>120, overlapping copy), LZ77
    through the 2D proximity map (code 1 = pixel above), a color-cache
    hit, and a two-symbol simple code."""
    import numpy as np

    from apachebeam_python_spark.operators import webp_lite as W

    # plain distance 1, length 3 (overlap): [lit g=5] + copy×3
    bw = W._BitWriter()
    _webp_header(bw, 4, 1)
    bw.write(0, 1); bw.write(0, 1); bw.write(0, 1)
    bw.write(0, 1)  # green: normal code over {5, 258} (1 bit each)
    bw.write(0, 4)  # clc covers order idx ≤ 3 → symbols {0, 1}
    for i in range(4):
        bw.write(1 if W._CLC_ORDER[i] in (0, 1) else 0, 3)
    bw.write(0, 1)
    for pos in range(280):
        bw.write_code(1 if pos in (5, 258) else 0, 1)
    for s in (7, 9, 255, 13):  # red/blue/alpha singles; dist prefix 13
        W._emit_simple_single(bw, s)
    bw.write_code(0, 1)  # literal
    bw.write_code(1, 1)  # sym 258 → length prefix 2 → length 3
    bw.write(24, 5)      # dist prefix 13: 96+24+1=121 → plain distance 1
    img = W.decode_webp(_webp_wrap(bw))
    assert np.array_equal(img, np.tile(np.array([7, 5, 9], np.uint8), (1, 4, 1)))

    # 2D map: dist code 1 = (0,1) → distance == xsize (the row above)
    bw = W._BitWriter()
    _webp_header(bw, 3, 2)
    bw.write(0, 1); bw.write(0, 1); bw.write(0, 1)
    bw.write(0, 1)  # green over {1,2,3,258}, 2 bits each
    bw.write(1, 4)  # clc covers order idx ≤ 4 → {0, 2}
    for i in range(5):
        bw.write(1 if W._CLC_ORDER[i] in (0, 2) else 0, 3)
    bw.write(0, 1)
    for pos in range(280):
        bw.write_code(1 if pos in (1, 2, 3, 258) else 0, 1)
    for s in (7, 9, 255, 0):
        W._emit_simple_single(bw, s)
    for code in (0, 1, 2):  # literals g=1,2,3
        bw.write_code(code, 2)
    bw.write_code(3, 2)  # copy length 3, distance code 1
    img = W.decode_webp(_webp_wrap(bw))
    assert np.array_equal(
        img, np.array([[[7, 1, 9], [7, 2, 9], [7, 3, 9]]] * 2, np.uint8)
    )

    # color cache: literal then cache hit at the spec hash index
    pix = (255 << 24) | (7 << 16) | (5 << 8) | 9
    idx = ((0x1E35A7BD * pix) & 0xFFFFFFFF) >> 28
    bw = W._BitWriter()
    _webp_header(bw, 2, 1)
    bw.write(0, 1)
    bw.write(1, 1); bw.write(4, 4)  # cache_bits=4
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 4)
    for i in range(4):
        bw.write(1 if W._CLC_ORDER[i] in (0, 1) else 0, 3)
    bw.write(0, 1)
    for pos in range(296):
        bw.write_code(1 if pos in (5, 280 + idx) else 0, 1)
    for s in (7, 9, 255, 0):
        W._emit_simple_single(bw, s)
    bw.write_code(0, 1)
    bw.write_code(1, 1)
    img = W.decode_webp(_webp_wrap(bw))
    assert np.array_equal(img, np.array([[[7, 5, 9]] * 2], np.uint8))

    # simple 2-symbol code, 1-bit first-symbol form
    bw = W._BitWriter()
    _webp_header(bw, 3, 1)
    bw.write(0, 1); bw.write(0, 1); bw.write(0, 1)
    bw.write(1, 1); bw.write(1, 1); bw.write(0, 1); bw.write(1, 1)
    bw.write(200, 8)  # symbols {1, 200}: canonical 1→0, 200→1
    for s in (7, 9, 255, 0):
        W._emit_simple_single(bw, s)
    for c in (0, 1, 0):
        bw.write_code(c, 1)
    img = W.decode_webp(_webp_wrap(bw))
    assert np.array_equal(
        img, np.array([[[7, 1, 9], [7, 200, 9], [7, 1, 9]]], np.uint8)
    )


def test_webp_decoder_transforms_and_meta():
    """Hand-built VP8L streams covering all four transforms (inverse
    application, signed color deltas, palette delta-coding and sub-byte
    bundling) and meta prefix-code group selection."""
    import numpy as np

    from apachebeam_python_spark.operators import webp_lite as W

    def argb(r, g, b, a=0xFF):
        return (a << 24) | (r << 16) | (g << 8) | b

    def psub(p, q):
        return (
            ((((p >> 24) - (q >> 24)) & 0xFF) << 24)
            | ((((p >> 16) - (q >> 16)) & 0xFF) << 16)
            | ((((p >> 8) - (q >> 8)) & 0xFF) << 8)
            | ((p - q) & 0xFF)
        )

    # subtract-green
    bw = W._BitWriter()
    _webp_header(bw, 2, 1)
    bw.write(1, 1); bw.write(2, 2)
    bw.write(0, 1)
    bw.write(0, 1); bw.write(0, 1)
    W._emit_flat_code(bw, 24); W._emit_flat_code(bw, 0); W._emit_flat_code(bw, 0)
    W._emit_simple_single(bw, 255); W._emit_simple_single(bw, 0)
    for r, g, b in ((30, 20, 15), (250, 200, 100)):
        bw.write_code(g, 8)
        bw.write_code((r - g) & 0xFF, 8)
        bw.write_code((b - g) & 0xFF, 8)
    assert np.array_equal(
        W.decode_webp(_webp_wrap(bw)),
        np.array([[[30, 20, 15], [250, 200, 100]]], np.uint8),
    )

    # predictor (single 4×4 tile, mode 7 = avg2(L, T); edge rules L/T/black)
    want = np.array(
        [[[10, 20, 30], [13, 27, 39]], [[40, 50, 60], [22, 33, 44]]], np.uint8
    )
    sub = lambda a, b: tuple((int(x) - int(y)) & 0xFF for x, y in zip(a, b))  # noqa: E731
    avg2 = lambda a, b: tuple((int(x) + int(y)) // 2 for x, y in zip(a, b))  # noqa: E731
    p00, p01, p10, p11 = (tuple(want[y, x]) for y in (0, 1) for x in (0, 1))
    res = [
        (0,) + sub(p00, (0, 0, 0)),
        (0,) + sub(p01, p00),
        (0,) + sub(p10, p00),
        (0,) + sub(p11, avg2(p10, p01)),
    ]
    bw = W._BitWriter()
    _webp_header(bw, 2, 2)
    bw.write(1, 1); bw.write(0, 2); bw.write(0, 3)  # predictor, size_bits=2
    _webp_stream(W, bw, [(0xFF << 24) | (7 << 8)])  # 1×1 tile: mode 7
    bw.write(0, 1)
    bw.write(0, 1); bw.write(0, 1)
    W._emit_flat_code(bw, 24); W._emit_flat_code(bw, 0); W._emit_flat_code(bw, 0)
    W._emit_flat_code(bw, 0)
    W._emit_simple_single(bw, 0)
    for a, r, g, b in res:
        bw.write_code(g, 8); bw.write_code(r, 8); bw.write_code(b, 8)
        bw.write_code(a, 8)
    assert np.array_equal(W.decode_webp(_webp_wrap(bw)), want)

    # color transform: g2r=2 g2b=3 r2b=4, incl. a signed (int8) green
    bw = W._BitWriter()
    _webp_header(bw, 2, 1)
    bw.write(1, 1); bw.write(1, 2); bw.write(0, 3)
    _webp_stream(W, bw, [(0xFF << 24) | (4 << 16) | (3 << 8) | 2])
    bw.write(0, 1)
    bw.write(0, 1); bw.write(0, 1)
    W._emit_flat_code(bw, 24); W._emit_flat_code(bw, 0); W._emit_flat_code(bw, 0)
    W._emit_simple_single(bw, 255); W._emit_simple_single(bw, 0)
    for r, g, b in ((100, 64, 50), (10, 200, 7)):
        bw.write_code(g, 8); bw.write_code(r, 8); bw.write_code(b, 8)
    # hand-computed: (2·64)>>5=4, (3·64)>>5=6, (4·104)>>5=13;
    # int8(200)=-56: (2·-56)>>5=-4, (3·-56)>>5=-6, (4·6)>>5=0
    assert np.array_equal(
        W.decode_webp(_webp_wrap(bw)),
        np.array([[[104, 64, 69], [6, 200, 1]]], np.uint8),
    )

    # 20-color palette (no bundling) + 3-color palette (2-bit bundling)
    pal = [argb(10 * i % 256, (3 + 7 * i) % 256, (90 + 13 * i) % 256) for i in range(20)]
    deltas = [pal[0]] + [psub(pal[i], pal[i - 1]) for i in range(1, 20)]
    bw = W._BitWriter()
    _webp_header(bw, 4, 1)
    bw.write(1, 1); bw.write(3, 2); bw.write(19, 8)
    _webp_stream(W, bw, deltas)
    bw.write(0, 1)
    bw.write(0, 1); bw.write(0, 1)
    W._emit_flat_code(bw, 24); W._emit_flat_code(bw, 0); W._emit_flat_code(bw, 0)
    W._emit_simple_single(bw, 255); W._emit_simple_single(bw, 0)
    for idx in (0, 19, 7, 3):
        bw.write_code(idx, 8); bw.write_code(0, 8); bw.write_code(0, 8)
    exp = np.array(
        [[[(p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF] for p in
          (pal[0], pal[19], pal[7], pal[3])]], np.uint8)
    assert np.array_equal(W.decode_webp(_webp_wrap(bw)), exp)

    pal3 = [argb(10, 20, 30), argb(200, 100, 50), argb(0, 0, 255)]
    deltas = [pal3[0], psub(pal3[1], pal3[0]), psub(pal3[2], pal3[1])]
    bw = W._BitWriter()
    _webp_header(bw, 4, 1)
    bw.write(1, 1); bw.write(3, 2); bw.write(2, 8)
    _webp_stream(W, bw, deltas)
    bw.write(0, 1)
    bw.write(0, 1); bw.write(0, 1)
    W._emit_flat_code(bw, 24); W._emit_flat_code(bw, 0); W._emit_flat_code(bw, 0)
    W._emit_simple_single(bw, 255); W._emit_simple_single(bw, 0)
    packed = 0 | 2 << 2 | 1 << 4 | 0 << 6  # indices 0,2,1,0 low-bits-first
    bw.write_code(packed, 8); bw.write_code(0, 8); bw.write_code(0, 8)
    assert np.array_equal(
        W.decode_webp(_webp_wrap(bw)),
        np.array([[[10, 20, 30], [0, 0, 255], [200, 100, 50], [10, 20, 30]]], np.uint8),
    )

    # predictor TR on the RIGHTMOST column: spec (RFC 9649) says the
    # TR-pixel there is the leftmost pixel of the SAME row — a 2-wide
    # image with mode 3 (TR) pins it (review r3 finding: T was used)
    want = np.array(
        [[[10, 20, 30], [40, 50, 60]], [[70, 80, 90], [75, 85, 95]]], np.uint8
    )
    sub = lambda a, b: tuple((int(x) - int(y)) & 0xFF for x, y in zip(a, b))  # noqa: E731
    res = [
        (0,) + sub(want[0, 0], (0, 0, 0)),      # (0,0): black predictor
        (0,) + sub(want[0, 1], want[0, 0]),     # top row: L
        (0,) + sub(want[1, 0], want[0, 0]),     # left col: T
        (0,) + sub(want[1, 1], want[1, 0]),     # mode 3: TR = row-1 leftmost
    ]
    bw = W._BitWriter()
    _webp_header(bw, 2, 2)
    bw.write(1, 1); bw.write(0, 2); bw.write(0, 3)
    _webp_stream(W, bw, [(0xFF << 24) | (3 << 8)])  # single tile, mode 3
    bw.write(0, 1)
    bw.write(0, 1); bw.write(0, 1)
    W._emit_flat_code(bw, 24); W._emit_flat_code(bw, 0); W._emit_flat_code(bw, 0)
    W._emit_flat_code(bw, 0)
    W._emit_simple_single(bw, 0)
    for a, r, g, b in res:
        bw.write_code(g, 8); bw.write_code(r, 8); bw.write_code(b, 8)
        bw.write_code(a, 8)
    assert np.array_equal(W.decode_webp(_webp_wrap(bw)), want)

    # meta prefix codes: two groups selected by the entropy image
    bw = W._BitWriter()
    _webp_header(bw, 8, 1)
    bw.write(0, 1); bw.write(0, 1)
    bw.write(1, 1); bw.write(0, 3)  # meta_bits=2 → 2×1 entropy image
    _webp_stream(W, bw, [argb(0, 0, 0), argb(0, 1, 0)])
    for r, g, b in ((7, 5, 9), (8, 6, 10)):
        for s in (g, r, b, 255, 0):
            W._emit_simple_single(bw, s)
    assert np.array_equal(
        W.decode_webp(_webp_wrap(bw)),
        np.array([[[7, 5, 9]] * 4 + [[8, 6, 10]] * 4], np.uint8),
    )


def test_png_codec_all_filters_and_color_types():
    """The stdlib-zlib PNG codec: encode→decode round-trips grey/RGB/RGBA,
    and the decoder inverts ALL FIVE scanline filters on a hand-filtered
    stream (our encoder only emits filter 0, so real-world filters need
    their own proof)."""
    import struct
    import zlib

    import numpy as np

    from apachebeam_python_spark.operators.multimodal import (
        decode_image,
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(7)
    for shape in [(5, 7), (6, 4, 3), (3, 9, 4)]:
        a = rng.integers(0, 256, size=shape, dtype=np.uint8)
        img = decode_png(encode_png(a))
        if len(shape) == 2:
            ref = np.repeat(a[:, :, None], 3, axis=2)
        elif shape[2] == 4:
            ref = a[:, :, :3]
        else:
            ref = a
        assert np.array_equal(img, ref), shape

    def png_with_filters(a, ftypes):
        h, w, nch = a.shape
        stride = w * nch
        flat = a.reshape(h, stride).astype(int)
        raw = bytearray()
        prev = np.zeros(stride, dtype=int)
        for y, ft in zip(range(h), ftypes):
            row = flat[y]
            enc = row.copy()
            if ft == 1:
                enc[nch:] = (row[nch:] - row[:-nch]) % 256
            elif ft == 2:
                enc = (row - prev) % 256
            elif ft == 3:
                for x in range(stride):
                    left = row[x - nch] if x >= nch else 0
                    enc[x] = (row[x] - ((left + prev[x]) >> 1)) % 256
            elif ft == 4:
                for x in range(stride):
                    a_ = row[x - nch] if x >= nch else 0
                    b_ = prev[x]
                    c_ = prev[x - nch] if x >= nch else 0
                    pp = a_ + b_ - c_
                    pa, pb, pc = abs(pp - a_), abs(pp - b_), abs(pp - c_)
                    pred = (
                        a_ if (pa <= pb and pa <= pc) else (b_ if pb <= pc else c_)
                    )
                    enc[x] = (row[x] - pred) % 256
            raw += bytes([ft]) + bytes(enc.astype(np.uint8))
            prev = row

        def chunk(tag, body):
            return (
                struct.pack(">I", len(body))
                + tag
                + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    a = rng.integers(0, 256, size=(5, 6, 3), dtype=np.uint8)
    payload = png_with_filters(a, [0, 1, 2, 3, 4])
    assert np.array_equal(decode_png(payload), a)
    assert np.array_equal(decode_image(payload), a)  # sniffer dispatch


def test_tfrecord_example_wire_format():
    """Hand-rolled protobuf wire format: Example encode/decode round-trips
    bytes and (negative) int64 features, and the reader rejects corrupted
    CRC-32C frames. CRC-32C itself is pinned against the RFC 3720 check
    value crc32c('123456789') = 0xE3069283."""
    import struct

    from apachebeam_python_spark.sources.mlexport import (
        _crc32c,
        _example_decode,
        _example_encode,
        _masked_crc,
    )

    assert _crc32c(b"123456789") == 0xE3069283

    for feats in [
        {"id": 0, "text": b""},
        {"id": -7, "text": b"neg id"},
        {"id": 2**62, "text": bytes(range(256))},
    ]:
        assert _example_decode(_example_encode(feats)) == feats

    rec = _example_encode({"id": 1, "text": b"x"})
    ln = struct.pack("<Q", len(rec))
    framed = bytearray(ln + struct.pack("<I", _masked_crc(ln))
                       + rec + struct.pack("<I", _masked_crc(rec)))
    framed[-5] ^= 0xFF  # corrupt one data byte

    # the frame math must now disagree (read_tfrecord raises on this);
    # the uncorrupted record still matches its stored CRC
    assert _masked_crc(bytes(framed[12:12 + len(rec)])) != struct.unpack(
        "<I", bytes(framed[-4:])
    )[0]
    assert _masked_crc(rec) == struct.unpack("<I",
        struct.pack("<I", _masked_crc(rec)))[0]


def test_audio_spectral_recovers_fundamental(spark, sf_dir):
    """The rFFT featurizer must recover the synthesized sawtooth's
    fundamental (rate/64 = 125 Hz) within one FFT bin for every clip —
    clip lengths are NOT multiples of the period, so this tolerates the
    resulting spectral leakage but nothing larger."""
    from apachebeam_python_spark import queries as q

    rows = q.QUERIES["q_audio_spectral"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        n = 64 + r.doc_id % 129
        bin_hz = 8000.0 / n
        assert abs(r.dominant_hz - 125.0) <= bin_hz + 1e-9, (
            r.doc_id, r.dominant_hz, bin_hz
        )
        assert 0.0 <= r.dominant_share <= 1.0


def test_jpeg_pipeline_fidelity(spark, sf_dir):
    """JPEG is lossy, so q_jpeg_pipeline can't hash-match an oracle —
    instead pin the fidelity contract: decoded dimensions exact, every
    8×8-thumbnail channel mean within ±8 of the closed-form pixel
    reference (quality 90), for every document."""
    import numpy as np

    from apachebeam_python_spark import queries as q

    rows = q.QUERIES["q_jpeg_pipeline"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        i = r.doc_id
        w, h = 8 + i % 16, 8 + i % 12
        assert (r.width, r.height) == (w, h), (i, r.width, r.height)
        a = ((i + np.arange(h * w * 3)) % 256).reshape(h, w, 3)
        ys = (np.arange(8) * h) // 8
        xs = (np.arange(8) * w) // 8
        thumb = a[np.ix_(ys, xs)]
        for ch, got in enumerate((r.mean_r, r.mean_g, r.mean_b)):
            ref = float(thumb[:, :, ch].mean())
            assert abs(got - ref) <= 8.0, (i, ch, got, ref)


def test_jpeg_codec_contract():
    """operators.jpeg_lite: flat blocks decode exactly, smooth gradients
    round-trip at PSNR ≥ 30 dB, odd (non-multiple-of-8) dimensions crop
    correctly, grayscale works, and encoding is bit-deterministic."""
    import numpy as np

    from apachebeam_python_spark.operators.jpeg_lite import (
        decode_jpeg,
        encode_jpeg,
    )

    flat = np.full((24, 16, 3), 130, dtype=np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg(flat, 90)), flat)

    for shape in [(13, 21, 3), (40, 56, 3), (9, 17)]:
        y, x = np.mgrid[0 : shape[0], 0 : shape[1]]
        base = (x * 5 + y * 7) % 256
        img = (
            np.stack([base, (base + 40) % 256, (base + 90) % 256], axis=-1)
            if len(shape) == 3
            else base
        ).astype(np.uint8)
        dec = decode_jpeg(encode_jpeg(img, 90))
        ref = img if len(shape) == 3 else np.repeat(img[:, :, None], 3, axis=2)
        assert dec.shape == ref.shape
        mse = np.mean((dec.astype(float) - ref.astype(float)) ** 2)
        assert 10 * np.log10(255**2 / max(mse, 1e-9)) >= 30.0, shape

    img = np.arange(8 * 16 * 3, dtype=np.uint8).reshape(8, 16, 3)
    assert encode_jpeg(img, 90) == encode_jpeg(img, 90)


def test_gif_codec_lzw_round_trip():
    """The GIF/LZW codec: lossless round trips for small palettes, the
    full-256-color palette, dictionary-reset streams (>4095 codes), and
    interlaced images decode via the 4-pass row reorder."""
    import numpy as np

    from apachebeam_python_spark.operators.multimodal import (
        decode_gif,
        decode_image,
        encode_gif,
    )

    rng = np.random.default_rng(11)
    pal7 = rng.integers(0, 256, size=(7, 3)).astype(np.uint8)
    for shape in [(13, 9), (40, 33), (1, 1)]:
        a = pal7[rng.integers(0, 7, size=shape)]
        assert np.array_equal(decode_gif(encode_gif(a)), a), shape

    base = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    img = base[rng.integers(0, 256, size=(80, 90))]  # forces dict resets
    assert np.array_equal(decode_gif(encode_gif(img)), img)
    assert np.array_equal(decode_image(encode_gif(img)), img)

    # interlaced: permute an encoded image's rows per the 4-pass scheme and
    # set the interlace flag — the decoder must undo it
    small = pal7[rng.integers(0, 7, size=(11, 6))]
    payload = bytearray(encode_gif(small))
    h = 11
    order = (list(range(0, h, 8)) + list(range(4, h, 8))
             + list(range(2, h, 4)) + list(range(1, h, 2)))
    reordered = small[np.array(order)]
    enc = bytearray(encode_gif(reordered))
    # image descriptor starts right after header+GCT; find 0x2C
    gct_n = 2 << (payload[10] & 0x07)
    desc = 13 + gct_n * 3
    assert enc[desc] == 0x2C
    enc[desc + 9] |= 0x40  # interlace flag
    assert np.array_equal(decode_gif(bytes(enc)), small)


def test_g711_telephony_codecs():
    """G.711 µ-law/A-law WAV arms: quantization error within the codec's
    segment bound (≤ 6.25% µ-law / 12.5% A-law of magnitude, 64-count
    floor), and expand∘compress∘expand is a fixpoint over all 256 codes
    (canonical normalization, both laws)."""
    import numpy as np

    from apachebeam_python_spark.operators.multimodal import (
        _alaw_compress,
        _alaw_expand,
        _ulaw_compress,
        _ulaw_expand,
        decode_wav,
        encode_wav_g711,
    )

    rng = np.random.default_rng(3)
    s = rng.normal(0, 6000, 4000).clip(-32000, 32000).astype(np.int16)
    for law, bound in (("ulaw", 0.0625), ("alaw", 0.125)):
        dec, rate = decode_wav(encode_wav_g711(s, 8000, law))
        assert rate == 8000
        err = np.abs(dec[:, 0].astype(int) - s.astype(int))
        rel = err / np.maximum(np.abs(s.astype(int)), 64)
        assert rel.max() <= bound + 1e-9, (law, rel.max())
    b = np.arange(256, dtype=np.uint8)
    for exp, comp in ((_ulaw_expand, _ulaw_compress), (_alaw_expand, _alaw_compress)):
        assert np.array_equal(exp(comp(exp(b))), exp(b))


def test_mjpeg_video_frame_sampling(spark):
    """Motion-JPEG container: per-frame baseline-JPEG round trip at high
    PSNR, and frame_sample sniffs MJPG next to RAWV — sampled frame rows
    carry near-reference channel means (lossy tolerance ±3)."""
    import numpy as np
    import pandas as pd  # noqa: F401

    from apachebeam_python_spark.operators.multimodal import (
        decode_mjpeg,
        encode_mjpeg,
        frame_sample,
    )

    y, x = np.mgrid[0:24, 0:32]
    frames = np.stack([((x * 3 + y * 2 + 17 * f) % 256) for f in range(6)])
    vid = np.repeat(frames[:, :, :, None], 3, axis=3).astype(np.uint8)
    dec, fps = decode_mjpeg(encode_mjpeg(vid, fps=8, quality=90))
    assert dec.shape == vid.shape and fps == 8
    mse = ((dec.astype(float) - vid.astype(float)) ** 2).mean()
    assert 10 * np.log10(255**2 / mse) >= 35.0

    payload = encode_mjpeg(vid, fps=8, quality=90)
    df = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, payload binary")
    rows = frame_sample(df, "payload", every_n=2).collect()
    assert [r.frame_idx for r in rows] == [0, 2, 4]
    for r in rows:
        ref = float(vid[r.frame_idx].reshape(-1, 3)[:, 0].mean())
        assert abs(r.mean_r - ref) <= 3.0, (r.frame_idx, r.mean_r, ref)


def test_kcore_peel_reaches_fixpoint(spark, sf_dir):
    """q_kcore unrolls three peel rounds; the result is the TRUE 3-core only
    if peeling has converged — run one more round over the query's survivor
    set and assert it is a no-op (every surviving node keeps degree ≥ 3 in
    the induced subgraph)."""
    from pyspark.sql import functions as F

    from apachebeam_python_spark import queries as q

    core = q.QUERIES["q_kcore"](spark, sf_dir).cache()
    try:
        nodes = core.select("node")
        from apachebeam_python_spark.queries.analytics import _trade_edges

        e0 = _trade_edges(spark, sf_dir, 120)
        e = (
            e0.select(F.col("src").alias("u"), F.col("dst").alias("v"))
            .union(e0.select(F.col("dst").alias("u"), F.col("src").alias("v")))
            .distinct()
        )
        induced = e.join(nodes, e.u == nodes.node, "left_semi").join(
            nodes.select(F.col("node").alias("vn")), F.col("v") == F.col("vn"), "left_semi"
        )
        deg4 = induced.groupBy("u").agg(F.count("*").alias("deg"))
        dropped = deg4.filter(F.col("deg") < 3).count()
        n_core = core.count()
        assert dropped == 0, f"peel not converged: {dropped} nodes below k in round 4"
        # the non-emptiness pin is tuned to the sf0.01 fixture; at sf0.001 the
        # edge threshold (count >= 120) legitimately yields a graph too sparse
        # for any 3-core, and empty-vs-empty parity is already oracle-checked
        if e.count() >= 50:
            assert n_core > 0, "empty 3-core — fixture graph changed, re-tune threshold"
        assert deg4.count() == n_core
    finally:
        core.unpersist()


def test_ima_adpcm_codec():
    """IMA ADPCM (WAV format 0x11, round 4): integer-exact lossy codec —
    decode(encode(x)) is bit-deterministic, multi-block state is carried
    through block headers, the fact chunk truncates padding, and smooth
    signals reconstruct within the codec's nominal quality band."""
    import numpy as np

    from apachebeam_python_spark.operators import multimodal as M

    # multi-block (1200 samples > 2×505/block) determinism + length
    sig = ((np.arange(1200) * 37) % 997 - 498).astype(np.int16)
    wav = M.encode_wav_adpcm(sig, 8000)
    dec, sr = M.decode_wav(wav)
    dec = dec.reshape(-1)
    assert sr == 8000 and len(dec) == len(sig)
    dec2, _ = M.decode_audio(M.encode_wav_adpcm(sig, 8000))  # sniff dispatch
    assert (dec2.reshape(-1) == dec).all()

    # smooth tone: IMA ADPCM's nominal band is ~40+ dB SNR
    t = np.arange(4000)
    tone = (8000 * np.sin(2 * np.pi * t / 200)).astype(np.int16)
    d, _ = M.decode_wav(M.encode_wav_adpcm(tone, 8000))
    err = d.reshape(-1).astype(np.int32) - tone.astype(np.int32)
    snr = 10 * np.log10(
        (tone.astype(float) ** 2).sum() / (err.astype(float) ** 2).sum()
    )
    assert snr > 40, f"SNR {snr:.1f} dB below the codec's nominal band"

    # odd sample count: fact chunk must truncate the padded nibble
    odd = tone[:505 + 3]
    d3, _ = M.decode_wav(M.encode_wav_adpcm(odd, 8000))
    assert len(d3.reshape(-1)) == len(odd)

    # corrupt step index rejected
    bad = bytearray(M.encode_wav_adpcm(tone[:100], 8000))
    di = bad.index(b"data") + 8
    bad[di + 2] = 120  # step index > 88
    import pytest as _pytest

    with _pytest.raises(ValueError, match="step index"):
        M.decode_wav(bytes(bad))


def test_adpcm_pipeline_matches_numpy_replay(spark, sf_dir):
    """q_adpcm_pipeline's features must equal an independent numpy replay
    of synth → encode → decode → featurize for every doc id — exact
    equality, because IMA ADPCM is integer-deterministic."""
    import math

    import numpy as np

    from apachebeam_python_spark import queries as q
    from apachebeam_python_spark.operators import multimodal as M

    got = {
        r.doc_id: (r.n_samples, r.sample_rate, r.duration_s, r.peak, r.mean_abs)
        for r in q.QUERIES["q_adpcm_pipeline"](spark, sf_dir).collect()
    }
    assert len(got) > 0
    for i in list(got)[:40]:
        n = 64 + int(i) % 129
        amp = 100 + int(i) % 900
        t = (int(i) + np.arange(n)) % 64
        s = (t * amp // 63 - amp // 2).astype("<i2")
        dec, rate = M.decode_wav(M.encode_wav_adpcm(s, 8_000))
        mono = dec[:, 0].astype(np.int64)
        exp = (
            len(mono),
            rate,
            len(mono) / rate,
            int(np.abs(mono).max()),
            math.floor(float(np.abs(mono).sum()) * 1e6 / len(mono) + 0.5) / 1e6,
        )
        assert got[i] == exp, (i, got[i], exp)


def test_tiff_codec_round_trip_and_variants():
    """Baseline TIFF 6.0 (round 4): PackBits round trip bit-exact on flat,
    noisy, and gradient images; big-endian (MM) and uncompressed strips
    decode; multi-strip assembly honors RowsPerStrip; unsupported shapes
    raise with clear messages."""
    import numpy as np
    import pytest as _pytest

    from apachebeam_python_spark.operators import multimodal as M

    rng = np.random.default_rng(11)
    for shape in [(1, 1, 3), (5, 3, 3), (17, 31, 3), (64, 64, 3)]:
        a = rng.integers(0, 256, shape, dtype=np.uint8)
        a[::2] = 9  # flat rows exercise RLE repeats
        assert (M.decode_tiff(M.encode_tiff(a)) == a).all()
        assert (M.decode_image(M.encode_tiff(a)) == a).all()  # sniff dispatch

    # hand-built big-endian, uncompressed, two strips
    a = rng.integers(0, 256, (4, 3, 3), dtype=np.uint8)

    def be_tag(tid, ttype, cnt, val4):
        return tid.to_bytes(2, "big") + ttype.to_bytes(2, "big") + cnt.to_bytes(4, "big") + val4

    strip0, strip1 = a[:2].tobytes(), a[2:].tobytes()
    data = strip0 + strip1
    ifd_off = 8 + len(data)
    n_tags = 9
    bps_off = ifd_off + 2 + n_tags * 12 + 4
    so_off = bps_off + 6
    sc_off = so_off + 8
    ifd = n_tags.to_bytes(2, "big")
    ifd += be_tag(256, 3, 1, (3).to_bytes(2, "big") + b"\x00\x00")
    ifd += be_tag(257, 3, 1, (4).to_bytes(2, "big") + b"\x00\x00")
    ifd += be_tag(258, 3, 3, bps_off.to_bytes(4, "big"))
    ifd += be_tag(259, 3, 1, (1).to_bytes(2, "big") + b"\x00\x00")
    ifd += be_tag(262, 3, 1, (2).to_bytes(2, "big") + b"\x00\x00")
    ifd += be_tag(273, 4, 2, so_off.to_bytes(4, "big"))
    ifd += be_tag(277, 3, 1, (3).to_bytes(2, "big") + b"\x00\x00")
    ifd += be_tag(278, 3, 1, (2).to_bytes(2, "big") + b"\x00\x00")
    ifd += be_tag(279, 4, 2, sc_off.to_bytes(4, "big"))
    ifd += (0).to_bytes(4, "big")
    ifd += (8).to_bytes(2, "big") * 3
    ifd += (8).to_bytes(4, "big") + (8 + len(strip0)).to_bytes(4, "big")
    ifd += len(strip0).to_bytes(4, "big") + len(strip1).to_bytes(4, "big")
    payload = b"MM" + (42).to_bytes(2, "big") + (ifd_off).to_bytes(4, "big") + data + ifd
    assert (M.decode_tiff(payload) == a).all()

    with _pytest.raises(ValueError, match="not a TIFF"):
        M.decode_tiff(b"XX\x00\x00")
    with _pytest.raises(ValueError, match="encode_tiff expects"):
        M.encode_tiff(np.zeros((4, 4), dtype=np.uint8))


def test_pq_ann_recall_vs_brute_force(spark, sf_dir):
    """PQ+ADC+re-rank must recover enough of the true top-5 (round 5): at
    (8 subspaces x 16 codes, 64 candidates) measured recall@5 is ~0.75 at
    sf0.01; the pin is 0.6 to absorb fixture regeneration."""
    from apachebeam_python_spark import queries as q

    bf = {
        (r.query_id, r.neighbor_id)
        for r in q.QUERIES["q_cosine_topk"](spark, sf_dir).collect()
    }
    pq = {
        (r.query_id, r.neighbor_id)
        for r in q.QUERIES["q_ann_pq"](spark, sf_dir).collect()
    }
    assert len(bf & pq) / len(bf) >= 0.6, f"pq recall {len(bf & pq) / len(bf):.3f}"


def test_dtw_matches_numpy_replay(spark, sf_dir):
    """q_dtw is rows-only by nature (DP recurrence); pin the FULL distance
    matrix against an independent numpy replay of the banded DP over
    series rebuilt in DuckDB from the same parquet."""
    import duckdb
    import numpy as np

    from apachebeam_python_spark import queries as q

    rows = {
        (r.type_a, r.type_b): (r.n_a, r.n_b, r.dtw_cents)
        for r in q.QUERIES["q_dtw"](spark, sf_dir).collect()
    }
    con = duckdb.connect()
    df = con.execute(
        f"""
        SELECT event_type AS k, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM read_parquet('{sf_dir}/events.parquet')
        WHERE value IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).df()
    series = {
        k: g.sort_values("day")["cents"].to_numpy(dtype=np.int64)
        for k, g in df.groupby("k")
    }

    def dtw(a, b, r=7):
        n, m = len(a), len(b)
        big = 1 << 60
        prev = [big] * (m + 1)
        prev[0] = 0
        for i in range(1, n + 1):
            cur = [big] * (m + 1)
            for j in range(max(1, i - r), min(m, i + r) + 1):
                cur[j] = abs(int(a[i - 1]) - int(b[j - 1])) + min(
                    prev[j], prev[j - 1], cur[j - 1]
                )
            prev = cur
        return prev[m]

    keys = sorted(series)
    expected = {
        (ka, kb): (len(series[ka]), len(series[kb]), dtw(series[ka], series[kb]))
        for i, ka in enumerate(keys)
        for kb in keys[i + 1 :]
    }
    assert rows == expected
    # DTW(x, x) = 0 sanity on one series through the same kernel
    any_k = keys[0]
    assert dtw(series[any_k], series[any_k]) == 0


def test_isotonic_matches_sequential_pav(spark, sf_dir):
    """The minimax (max-min) identity used by q_isotonic_calibration must
    equal classic sequential pool-adjacent-violators on the same bins."""
    import pytest

    from apachebeam_python_spark import queries as q

    rows = sorted(
        (r.bin, r.n, r.observed_rate, r.iso_rate)
        for r in q.QUERIES["q_isotonic_calibration"](spark, sf_dir).collect()
    )
    # classic PAV replay over (weight, value) in bin order
    blocks = []  # [weight, weighted_sum]
    for _, n, obs, _ in rows:
        blocks.append([n, n * obs])
        while len(blocks) > 1 and blocks[-2][1] / blocks[-2][0] > blocks[-1][1] / blocks[-1][0]:
            w2, s2 = blocks.pop()
            blocks[-1][0] += w2
            blocks[-1][1] += s2
    # expand: each block covers as many bins as its accumulated weight came from
    fitted = []
    i = 0
    for w, s in blocks:
        acc = 0
        while acc < w:
            acc += rows[i][1]
            fitted.append(s / w)
            i += 1
    assert len(fitted) == len(rows)
    prev = -1.0
    for (b, n, obs, iso), ref in zip(rows, fitted):
        assert iso == pytest.approx(ref, abs=1e-4), f"bin {b}"
        assert iso >= prev - 1e-9, "isotonic fit not monotone"
        prev = iso


def test_cycle_nodes_matches_python_closure(spark, sf_dir):
    """q_cycle_nodes vs an independent Floyd-Warshall transitive closure
    over the same thresholded edge list rebuilt in DuckDB."""
    import duckdb

    from apachebeam_python_spark import queries as q

    got = {
        r.node: (r.n_reachable, r.on_cycle)
        for r in q.QUERIES["q_cycle_nodes"](spark, sf_dir).collect()
    }
    con = duckdb.connect()
    for t in ["customer", "supplier", "orders", "lineitem"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    edges = con.execute(
        """
        SELECT s_nationkey, c_nationkey FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s_nationkey <> c_nationkey GROUP BY 1, 2 HAVING count(*) >= 100
        """
    ).fetchall()
    nodes = sorted({v for e in edges for v in e})
    reach = {v: set() for v in nodes}
    for s, d in edges:
        reach[s].add(d)
    for m in nodes:  # Floyd-Warshall boolean closure
        for a in nodes:
            if m in reach[a]:
                reach[a] |= reach[m]
    expected = {v: (len(reach[v]), v in reach[v]) for v in nodes}
    assert got == expected


def test_bollinger_band_invariants(spark, sf_dir):
    from apachebeam_python_spark import queries as q

    rows = q.QUERIES["q_bollinger_bands"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.n_win > 1:
            assert r.lower_band <= r.mid <= r.upper_band
            # flags agree with the published bands up to the 4-dp rounding
            if r.breakout_up:
                assert r.close >= r.upper_band - 1e-4
            if r.breakout_down:
                assert r.close <= r.lower_band + 1e-4
        else:
            assert r.breakout_up is None and r.breakout_down is None


def test_entropy_l_diversity_invariants(spark, sf_dir):
    import math as _m

    from apachebeam_python_spark import queries as q

    rows = q.QUERIES["q_entropy_l_diversity"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.entropy <= _m.log(r.distinct_l) + 1e-6
        assert r.effective_l <= r.distinct_l + 1e-4
        assert r.violates_l3 == (r.entropy < round(_m.log(3.0), 6) + 1e-12) or (
            abs(r.entropy - _m.log(3.0)) < 1e-5
        )


def test_misra_gries_exact_and_complete(spark, sf_dir):
    """q_misra_gries must equal the exact GROUP BY heavy-hitter set —
    the two-pass construction makes the sketch's approximation vanish."""
    from apachebeam_python_spark import queries as q
    from apachebeam_python_spark.functions import text as T
    from apachebeam_python_spark.session import table

    got = {(r.tok, r.cnt) for r in q.QUERIES["q_misra_gries"](spark, sf_dir).collect()}
    toks = table(spark, sf_dir, "documents").select(
        F.explode(T.tokens(F.col("text"))).alias("tok")
    )
    n = toks.count()
    exact = {
        (r.tok, r["count"])
        for r in toks.groupBy("tok").count().filter(F.col("count") * 30 > n).collect()
    }
    assert got == exact and got


def test_periodogram_matches_numpy_fft(spark, sf_dir):
    """q_periodogram is rows-only (libm trig sums); pin every frequency's
    power against an independent numpy rFFT of the same centered series."""
    import duckdb
    import numpy as np
    import pytest

    from apachebeam_python_spark import queries as q

    rows = {
        r.k: (r.period_days, r.power)
        for r in q.QUERIES["q_periodogram"](spark, sf_dir).collect()
    }
    con = duckdb.connect()
    y = (
        con.execute(
            f"""
            SELECT CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM read_parquet('{sf_dir}/events.parquet')
            WHERE value IS NOT NULL
            GROUP BY CAST(ts AS DATE) ORDER BY CAST(ts AS DATE)
            """
        )
        .df()["cents"]
        .to_numpy(dtype=float)
    )
    n = len(y)
    yc = y - y.mean()
    spec = np.fft.rfft(yc)
    ks = sorted(rows)
    assert ks == [k for k in range(1, 21) if k < n / 2]
    for k in ks:
        ref = 2.0 / n * (spec[k].real ** 2 + spec[k].imag ** 2)
        period, power = rows[k]
        assert period == pytest.approx(n / k, abs=1e-3)
        assert power == pytest.approx(ref, rel=1e-6, abs=1e-2)


def test_sssp_matches_python_dijkstra(spark, sf_dir):
    """q_sssp_weighted vs an independent heap Dijkstra over the same
    weighted edge list rebuilt in DuckDB."""
    import heapq

    import duckdb

    from apachebeam_python_spark import queries as q

    got = {
        r.node: r.dist_cents
        for r in q.QUERIES["q_sssp_weighted"](spark, sf_dir).collect()
    }
    con = duckdb.connect()
    for t in ["customer", "supplier", "orders", "lineitem"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    edges = con.execute(
        """
        SELECT s_nationkey, c_nationkey,
               CAST(min(round(l_extendedprice * 100)) AS BIGINT)
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s_nationkey <> c_nationkey GROUP BY 1, 2 HAVING count(*) >= 100
        """
    ).fetchall()
    nodes = sorted({v for s, d, _ in edges for v in (s, d)})
    if not nodes:  # sf0.001: the threshold legitimately yields no edges
        assert got == {}
        return
    adj: dict[int, list[tuple[int, int]]] = {v: [] for v in nodes}
    for s, d, w in edges:
        adj[s].append((d, w))
    source = min(nodes)
    dist = {source: 0}
    heap = [(0, source)]
    while heap:
        dd, u = heapq.heappop(heap)
        if dd > dist.get(u, 1 << 62):
            continue
        for v, w in adj[u]:
            nd = dd + w
            if nd < dist.get(v, 1 << 62):
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    expected = {v: dist.get(v) for v in nodes}
    assert got == expected


def test_dbscan_1d_invariants(spark, sf_dir):
    """Cluster ranges are disjoint, separated by > eps, and internally
    eps-chained — the defining DBSCAN properties on a line."""
    import duckdb

    from apachebeam_python_spark import queries as q

    rows = sorted(
        (r.lo_cents, r.hi_cents, r.n_points, r.n_distinct)
        for r in q.QUERIES["q_dbscan_1d"](spark, sf_dir).collect()
    )
    assert rows
    con = duckdb.connect()
    pts = sorted(
        c
        for (c,) in con.execute(
            f"""
            SELECT DISTINCT CAST(round(value * 100) AS BIGINT)
            FROM read_parquet('{sf_dir}/events.parquet')
            WHERE event_type = 'purchase' AND value IS NOT NULL
            """
        ).fetchall()
    )
    # independent islands replay
    expected = []
    start = prev = pts[0]
    cnt = 1
    for c in pts[1:]:
        if c - prev > 500:
            expected.append((start, prev, cnt))
            start, cnt = c, 0
        prev = c
        cnt += 1
    expected.append((start, prev, cnt))
    assert [(lo, hi, nd) for lo, hi, _, nd in rows] == expected
    for (_, hi_a, _, _), (lo_b, _, _, _) in zip(rows, rows[1:]):
        assert lo_b - hi_a > 500


def test_hurst_matches_numpy_replay(spark, sf_dir):
    """q_hurst is rows-only (chained libm); replay the identical R/S
    estimator in numpy over the same daily series."""
    import duckdb
    import numpy as np
    import pytest

    from apachebeam_python_spark import queries as q

    (row,) = q.QUERIES["q_hurst"](spark, sf_dir).collect()
    con = duckdb.connect()
    y = (
        con.execute(
            f"""
            SELECT CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
            FROM read_parquet('{sf_dir}/events.parquet')
            WHERE value IS NOT NULL
            GROUP BY CAST(ts AS DATE) ORDER BY CAST(ts AS DATE)
            """
        )
        .df()["c"]
        .to_numpy(dtype=float)
    )
    xs, ys = [], []
    for w in (8, 16, 32, 64):
        rss = []
        for b in range(len(y) // w):
            blk = y[b * w : (b + 1) * w]
            dev = np.cumsum(blk - blk.mean())
            sd = blk.std()  # population sd, matching n*ss - s^2 over n^2
            if sd > 0:
                rss.append((dev.max() - dev.min()) / sd)
        if rss:
            xs.append(np.log2(w))
            ys.append(np.log2(np.mean(rss)))
    assert row.n_window_sizes == len(xs)
    slope = np.polyfit(xs, ys, 1)[0]
    assert row.hurst_h == pytest.approx(slope, abs=1e-4)


def test_gmm_em_matches_numpy_replay(spark, sf_dir):
    """q_gmm_em is rows-only (per-row exp/sqrt across 10 iterations); replay
    the identical EM (inits, updates, iteration count) in numpy."""
    import duckdb
    import numpy as np
    import pytest

    from apachebeam_python_spark import queries as q

    got = {
        r.component: (r.weight, r.mean_dollars, r.sd_dollars)
        for r in q.QUERIES["q_gmm_em"](spark, sf_dir).collect()
    }
    con = duckdb.connect()
    c = (
        con.execute(
            f"""
            SELECT CAST(round(value * 100) AS BIGINT) AS c
            FROM read_parquet('{sf_dir}/events.parquet')
            WHERE event_type = 'purchase' AND value IS NOT NULL
            """
        )
        .df()["c"]
        .to_numpy(dtype=np.float64)
    )
    n = len(c)
    srt = np.sort(c)
    mu1 = float(srt[(n + 3) // 4 - 1])   # (n+3) div 4, 1-based rank
    mu2 = float(srt[(3 * n + 3) // 4 - 1])
    v1 = v2 = max(float(c.var()), 1.0)
    w1 = w2 = 0.5
    for _ in range(10):
        num1 = w1 / np.sqrt(v1) * np.exp(-((c - mu1) ** 2) / (2 * v1))
        num2 = w2 / np.sqrt(v2) * np.exp(-((c - mu2) ** 2) / (2 * v2))
        r1 = num1 / (num1 + num2)
        s1, s2 = max(r1.sum(), 1e-9), max((1 - r1).sum(), 1e-9)
        mu1, mu2 = float((r1 * c).sum() / s1), float(((1 - r1) * c).sum() / s2)
        v1 = max(float((r1 * c * c).sum() / s1) - mu1 * mu1, 1.0)
        v2 = max(float(((1 - r1) * c * c).sum() / s2) - mu2 * mu2, 1.0)
        w1, w2 = s1 / n, s2 / n
    ref = {
        1: (w1, mu1 / 100.0, np.sqrt(v1) / 100.0),
        2: (w2, mu2 / 100.0, np.sqrt(v2) / 100.0),
    }
    for comp in (1, 2):
        gw, gm, gs = got[comp]
        rw, rm, rs_ = ref[comp]
        assert gw == pytest.approx(rw, abs=1e-3)
        assert gm == pytest.approx(rm, rel=1e-3, abs=1e-2)
        assert gs == pytest.approx(rs_, rel=1e-3, abs=1e-2)
    assert got[1][0] + got[2][0] == pytest.approx(1.0, abs=1e-6)
