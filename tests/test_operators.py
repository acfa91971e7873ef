"""Unit tests porting the reference's semantics-bearing suites (SURVEY §5)
to the batch operators: normalization rules, severity ladder boundaries,
LWW tie-breaks, connected-component determinism, EWMA alpha recurrence,
window boundary inclusivity."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pulseboard_spark.functions.core import severity
from pulseboard_spark.functions.ids import normalize_id
from pulseboard_spark.operators.ewma import with_ewma
from pulseboard_spark.operators.identity import connected_components
from pulseboard_spark.operators.windows import US_PER_SEC, with_trailing_aggs


# --- F1 normalization (`IdentityGraphTest.kt` normalization cases) ----------

NORMALIZE_CASES = [
    ("user123", "user:user123"),
    ("  user123  ", "user:user123"),
    ("John@Example.COM", "email:john@example.com"),
    ("email:John@Example.COM", "email:john@example.com"),
    ("anon-abc", "anon:anon-abc"),
    ("ANON42", "anon:ANON42"),
    ("user:u1", "user:u1"),
    ("anon:xyz", "anon:xyz"),
]


def test_normalize(spark):
    df = spark.createDataFrame([(r,) for r, _ in NORMALIZE_CASES], "raw string")
    got = {r["raw"]: r["norm"] for r in df.select("raw", normalize_id(F.col("raw")).alias("norm")).collect()}
    for raw, want in NORMALIZE_CASES:
        assert got[raw] == want, f"{raw!r}: {got[raw]!r} != {want!r}"


# --- P5 tag extraction: NULL-index guard ------------------------------------


def test_pick_null_index_is_null(spark):
    """Pin the motivation for `_pick` (sources/tables.py): Spark 4.1's bare
    ``element_at(arr, NULL)`` returns the LAST element, not NULL (the plan
    lowers to the internal 4-arg ``element_at(..., None, true)`` form).  If
    a Spark upgrade changes the engine behavior, the guard stays correct but
    this test keeps its rationale verifiable: _pick must yield NULL for a
    NULL index, and the in-range paths must match 1-based element_at."""
    from pulseboard_spark.sources.tables import _pick

    df = spark.createDataFrame([(1,), (2,), (None,)], "idx int")
    arr = F.array(F.lit("a"), F.lit("b"), F.lit("c"))
    rows = (
        df.select(
            "idx",
            _pick(arr, F.col("idx")).alias("picked"),
            F.element_at(arr, F.col("idx")).alias("bare"),
        )
        .orderBy(F.col("idx").asc_nulls_last())
        .collect()
    )
    assert [r["picked"] for r in rows] == ["a", "b", None]
    # document the observed engine behavior the guard exists for; if this
    # assertion starts failing after an upgrade, bare element_at became
    # NULL-correct and _pick can be retired
    assert rows[2]["bare"] == "c", (
        "Spark element_at(arr, NULL) no longer returns the last element; "
        "_pick's guard is now redundant (still correct)"
    )


# --- R5 severity ladder (`RulesTest.kt:325-370`) ----------------------------


def test_severity_ladder(spark):
    cases = [
        (100.0, 10.0, "HIGH"),     # ratio 10 → HIGH (boundary inclusive)
        (99.9, 10.0, "MEDIUM"),    # just under 10×
        (50.0, 10.0, "MEDIUM"),    # ratio 5 boundary
        (49.9, 10.0, "LOW"),
        (1.0, 0.0, "HIGH"),        # zero threshold → HIGH
    ]
    df = spark.createDataFrame([(v, t) for v, t, _ in cases], "v double, t double")
    got = [r["s"] for r in df.select(severity(F.col("v"), F.col("t")).alias("s")).collect()]
    assert got == [w for _, _, w in cases]


# --- EWMA recurrence (`WindowStoreTest.kt:296-323`) -------------------------


def test_ewma_recurrence(spark):
    rows = [(i, 1_000_000 * i, float(v)) for i, v in enumerate([10, 20, 10, 40])]
    df = spark.createDataFrame(rows, "event_id long, ts_us long, value double")
    got = {
        r["event_id"]: r["ewma"]
        for r in with_ewma(df.withColumn("entity_id", F.lit("e")).withColumn("type", F.lit("t"))).collect()
    }
    # seed = first value; then ewma = 0.1 v + 0.9 prev
    assert got[0] == pytest.approx(10.0)
    assert got[1] == pytest.approx(0.1 * 20 + 0.9 * 10.0)
    assert got[2] == pytest.approx(0.1 * 10 + 0.9 * got[1])
    assert got[3] == pytest.approx(0.1 * 40 + 0.9 * got[2])


def test_ewma_scan_matches_with_ewma(spark, sf_dir):
    """The fused ewma_scan (r10 optimization: carry columns through the
    Arrow pass, no re-attach join) must equal with_ewma + null filter on
    real data — values, carried columns, and row set."""
    from pulseboard_spark.operators.ewma import ewma_scan
    from pulseboard_spark.registry import entity_events

    ev = entity_events(spark, sf_dir)
    old = (
        with_ewma(ev)
        .filter(F.col("value").isNotNull())
        .select("event_id", "entity_id", "type", "ts_ms", "value", "ewma")
    )
    new = ewma_scan(ev, carry=["ts_ms"]).select(
        "event_id", "entity_id", "type", "ts_ms", "value", "ewma"
    )
    assert old.schema == new.schema
    o = sorted(tuple(r) for r in old.collect())
    n = sorted(tuple(r) for r in new.collect())
    assert o == n and len(o) > 0


def test_ewma_scan_clustered_matches(spark, sf_dir):
    """clustered=True over a window-partitioned input (the R2 shape) must
    produce the same ewma sequence as the repartitioning form — at a
    shuffle width where AQE coalescing fires under the scan, since key
    locality surviving the coalesce is what clustered=True relies on."""
    import re

    from pulseboard_spark.operators.ewma import ewma_scan
    from pulseboard_spark.registry import entity_events

    ev = entity_events(spark, sf_dir)  # first: a build calls tune(), which resets the width
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "64")  # a few thousand rows over 64 partitions
    try:
        win = with_trailing_aggs(ev)
        a = ewma_scan(win, carry=["ts_ms", "count_60s"], clustered=True).select("event_id", "ewma", "count_60s")
        b = ewma_scan(win, carry=["ts_ms", "count_60s"], clustered=False).select("event_id", "ewma", "count_60s")
        ra = sorted(tuple(r) for r in a.collect())
        rb = sorted(tuple(r) for r in b.collect())
    finally:
        spark.conf.set(key, prev)
    assert ra == rb and len(ra) > 0
    plan = a._jdf.queryExecution().executedPlan().toString()
    below_scan = plan[plan.index("MapInPandas"):]
    read = r"AQEShuffleRead coalesced\s+\+- ShuffleQueryStage \d+\s+\+- Exchange hashpartitioning\(entity_id#\d+, type#\d+, 64\)"
    assert re.search(read, below_scan), below_scan


# --- Window inclusivity (`WindowStoreTest.kt:79-105`) -----------------------


def test_trailing_window_boundaries(spark):
    # points at t=0s and exactly t=60s: the 60s trailing window is inclusive
    # on both ends (countInRange closed interval)
    rows = [(0, 0, 5.0), (1, 60_000_000, 7.0), (2, 60_000_001, 9.0)]
    df = (
        spark.createDataFrame(rows, "event_id long, ts_us long, value double")
        .withColumn("entity_id", F.lit("e"))
        .withColumn("type", F.lit("t"))
    )
    got = {r["event_id"]: r for r in with_trailing_aggs(df).collect()}
    assert got[1]["count_60s"] == 2  # t=0 is inside [t-60s, t]
    assert got[2]["count_60s"] == 2  # t=0 now outside by 1 µs


def test_empty_value_window_sums_are_zero(spark):
    """sumInRange returns 0 for an empty value window (`WindowStore.kt:72-84`):
    a null-valued event whose window holds nothing non-null must read
    sum_30s = 0.0 (not NULL), exactly like the streaming kernel's prefix
    sums — regardless of WHY the window is empty (all-null rows vs only
    later same-ts peers)."""
    rows = [
        (0, 0, None),            # all-null window -> 0.0, not NULL
        (1, 0, 3.0),             # same-ts later peer: event 0 must not see it
        (2, 100_000_000, None),  # window holds only nulls + evicted history
        (3, 100_000_000, 5.0),
    ]
    df = (
        spark.createDataFrame(rows, "event_id long, ts_us long, value double")
        .withColumn("entity_id", F.lit("e"))
        .withColumn("type", F.lit("t"))
    )
    got = {r["event_id"]: r for r in with_trailing_aggs(df).collect()}
    assert got[0]["sum_30s"] == 0.0 and got[0]["sum_30s"] is not None
    assert got[1]["sum_30s"] == 3.0
    assert got[2]["sum_30s"] == 0.0  # events 0/1 outside the 30 s frame
    assert got[3]["sum_30s"] == 5.0


def test_trailing_aggs_per_arrival_ties_match_model(spark):
    """All five columns against a plain-Python per-arrival model: sort by
    (ts_us, event_id); each row aggregates the rows at or before it in that
    order that fall inside [ts - d, ts].  One key, a five-event same-ts
    group created out of event_id order with NULL values mixed in, and
    earlier points exactly on and 1 µs past the 30 s, 60 s, 5 m and 1 h
    edges.  Power-of-two values keep every sum exact in any order."""
    t = 4_000 * US_PER_SEC
    rows = [(13, t, None), (10, t, 2.0), (14, t, 8.0), (12, t, 4.0), (11, t, None)]
    for i, secs in enumerate([30, 60, 300, 3600]):
        edge = t - secs * US_PER_SEC
        rows += [(2 * i + 1, edge, 2.0 ** (2 * i + 4)), (2 * i + 2, edge - 1, 2.0 ** (2 * i + 5))]
    rows += [(9, t - 45 * US_PER_SEC, None), (20, t + 1, 1024.0)]
    df = (
        spark.createDataFrame(rows, "event_id long, ts_us long, value double")
        .withColumn("entity_id", F.lit("e"))
        .withColumn("type", F.lit("t"))
    )
    got = {r["event_id"]: r for r in with_trailing_aggs(df).collect()}

    arrival = sorted(rows, key=lambda r: (r[1], r[0]))
    for i, (eid, ts, _) in enumerate(arrival):
        seen = {
            secs: [r[2] for r in arrival[: i + 1] if r[1] >= ts - secs * US_PER_SEC]
            for secs in (30, 60, 300, 3600)
        }
        vals = {secs: [x for x in seen[secs] if x is not None] for secs in seen}
        want = {
            "rate_1m": float(len(seen[60])),
            "sum_30s": sum(vals[30]),
            "count_60s": len(vals[60]),
            "avg_5m": sum(vals[300]) / len(vals[300]) if vals[300] else 0.0,
            "avg_1h": sum(vals[3600]) / len(vals[3600]) if vals[3600] else 0.0,
        }
        assert {c: got[eid][c] for c in want} == want, eid


# --- Connected components (`IdentityGraphTest.kt:105-214`) ------------------


@pytest.fixture(params=["local", "distributed"])
def cc_route(request, monkeypatch):
    """Both connected_components routes: the driver-side union-find, and
    the distributed fixpoint forced by a zero local-edge ceiling."""
    if request.param == "distributed":
        from pulseboard_spark.operators import identity

        monkeypatch.setattr(identity, "MAX_LOCAL_CC_EDGES", 0)
    return request.param


def test_connected_components_diamond(spark, cc_route):
    edges = spark.createDataFrame(
        [("b", "c"), ("c", "d"), ("b", "d"), ("x", "y")], "a string, b string"
    )
    nodes = spark.createDataFrame([("b",), ("c",), ("d",), ("x",), ("y",), ("solo",)], "id string")
    comp = {
        r["id"]: r["component"]
        for r in connected_components(nodes, edges).collect()
    }
    assert comp["b"] == comp["c"] == comp["d"] == "b"  # canonical = lexicographic min
    assert comp["x"] == comp["y"] == "x"
    assert comp["solo"] == "solo"


def test_connected_components_order_independent(spark):
    # same graph, edges listed in reverse — canonical ids must not change
    edges = spark.createDataFrame([("c", "d"), ("b", "c")], "a string, b string")
    edges_rev = spark.createDataFrame([("b", "c"), ("c", "d")], "a string, b string")
    nodes = spark.createDataFrame([("b",), ("c",), ("d",)], "id string")
    c1 = {r["id"]: r["component"] for r in connected_components(nodes, edges).collect()}
    c2 = {r["id"]: r["component"] for r in connected_components(nodes, edges_rev).collect()}
    assert c1 == c2 == {"b": "b", "c": "b", "d": "b"}


def test_salted_agg_matches_direct(spark):
    """Salted two-phase aggregation must equal direct groupBy on skewed data."""
    from pulseboard_spark.operators.skew import salted_agg
    from pyspark.sql import functions as F

    # 1 hot key with 50k rows, 100 cold keys
    hot = spark.range(50_000).select(F.lit("hot").alias("k"), (F.col("id") % 97).cast("double").alias("v"))
    cold = spark.range(5_000).select(
        F.concat(F.lit("c"), (F.col("id") % 100).cast("string")).alias("k"),
        (F.col("id") % 31).cast("double").alias("v"),
    )
    df = hot.unionByName(cold)
    got = {
        r.k: (r.n, r.s, r.mn, r.mx)
        for r in salted_agg(
            df, ["k"], {"n": ("count", "v"), "s": ("sum", "v"), "mn": ("min", "v"), "mx": ("max", "v")}
        ).collect()
    }
    want = {
        r.k: (r.n, r.s, r.mn, r.mx)
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"), F.min("v").alias("mn"), F.max("v").alias("mx"))
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0] and got[k][2:] == want[k][2:], k
        assert abs(got[k][1] - want[k][1]) < 1e-6, k


def test_resize_media_geometry(spark, sf_dir, monkeypatch):
    """Resize stage: aspect-preserving integer geometry + truncated payload."""
    from pulseboard_spark.operators import multimodal
    from pulseboard_spark.operators.multimodal import resize_media, synth_media
    from pulseboard_spark.sources.tables import load_table

    monkeypatch.setattr(multimodal, "RESIZE_MAX_DIM", 100)
    media = synth_media(load_table(spark, sf_dir, "documents"))
    out = resize_media(media)
    rows = out.limit(200).collect()
    src = {r.doc_id: r for r in media.limit(0).unionByName(media).collect()}
    assert rows
    for r in rows:
        s = src[r.doc_id]
        long_side = max(s.meta_width, s.meta_height)
        if long_side > 100:
            assert max(r.out_width, r.out_height) <= 100
            expect_w = s.meta_width if long_side <= 100 else max(1, s.meta_width * 100 // long_side)
            assert r.out_width == expect_w
        else:
            assert (r.out_width, r.out_height) == (s.meta_width, s.meta_height)
        assert r.out_n_bytes == min(r.out_width * r.out_height, s.meta_n_bytes)
        assert len(r.payload) == min(r.out_width * r.out_height, len(s.payload))


class TestImageCodecs:
    def test_png_and_ppm_round_trip(self):
        import numpy as np

        from pulseboard_spark.operators.multimodal import (
            decode_image,
            encode_png,
            encode_ppm,
        )

        w, h = 13, 7
        rgb = ((5 + np.arange(w * h * 3)) % 256).astype(np.uint8).tobytes()
        for enc in (encode_png, encode_ppm):
            payload = enc(w, h, rgb)
            assert payload != rgb  # really encoded (header/compression)
            got_w, got_h, got_rgb = decode_image(payload)
            assert (got_w, got_h, got_rgb) == (w, h, rgb)

    def test_wav_round_trip(self):
        import numpy as np

        from pulseboard_spark.operators.multimodal import decode_wav, encode_wav

        samples = ((np.arange(300) * 13) % 2001 - 1000).astype(np.int16)
        rate, got = decode_wav(encode_wav(8000, samples))
        assert rate == 8000
        assert np.array_equal(got, samples)

    def test_video_container_seek_decode(self):
        import numpy as np

        from pulseboard_spark.operators.multimodal import (
            decode_ppm_video_frame,
            encode_ppm_video,
        )

        w, h = 6, 4
        frames = [
            ((f * 31 + np.arange(w * h * 3)) % 256).astype(np.uint8).tobytes()
            for f in range(5)
        ]
        clip = encode_ppm_video(w, h, frames)
        for f in (0, 2, 4):
            nf, gw, gh, rgb = decode_ppm_video_frame(clip, f)
            assert (nf, gw, gh) == (5, w, h)
            assert rgb == frames[f]

    def test_unknown_codec_still_raises(self):
        import pytest as _pytest

        from pulseboard_spark.operators.multimodal import decode_image

        with _pytest.raises(NotImplementedError):
            decode_image(b"GIF89a not-a-supported-container")

    def test_jpeg_routes_through_decode_image(self):
        """Baseline JPEG is a real citizen of the generic image path now:
        grayscale luma expands to RGB."""
        import numpy as np

        from pulseboard_spark.operators.jpeg import encode_jpeg_gray
        from pulseboard_spark.operators.multimodal import decode_image

        img = np.full((8, 16), 42, dtype=np.uint8)  # constant even block
        w, h, rgb = decode_image(encode_jpeg_gray(16, 8, img.tobytes()))
        assert (w, h) == (16, 8)
        assert rgb == np.repeat(img.ravel(), 3).tobytes()

    def test_multimodal_codec_malformed_payload_contract(self):
        """Corrupt-corpus robustness for the PNG/PPM/WAV/PBV codecs — the
        same contract the JPEG codec is fuzzed against: EVERY truncation
        of a valid payload and random garbage behind each magic must
        raise inside MEDIA_DECODE_ERRORS, never IndexError / struct.error
        / zlib.error, and never silently return short pixel data."""
        import numpy as np
        import pytest as _pytest

        from pulseboard_spark.operators.jpeg import MEDIA_DECODE_ERRORS
        from pulseboard_spark.operators.multimodal import (
            decode_image, decode_wav, encode_png, encode_ppm,
            encode_ppm_video, encode_wav, pbv_geometry,
        )

        rng = np.random.default_rng(9)
        w, h = 11, 6
        rgb = ((3 + np.arange(w * h * 3)) % 256).astype(np.uint8).tobytes()
        clip = encode_ppm_video(w, h, [rgb, rgb])
        wav = encode_wav(8000, ((np.arange(100) * 7) % 1999 - 999).astype(np.int16))

        def wav_bytes(p):  # comparable output (ndarray == is elementwise)
            rate, s = decode_wav(p)
            return rate, s.tobytes()

        valid = {
            decode_image: [encode_png(w, h, rgb), encode_ppm(w, h, rgb)],
            wav_bytes: [wav],
            pbv_geometry: [clip],
        }
        for dec, payloads in valid.items():
            for payload in payloads:
                whole = dec(payload)
                for cut in range(0, len(payload)):
                    try:
                        got = dec(payload[:cut])
                    except MEDIA_DECODE_ERRORS:
                        continue
                    # only unvalidated trailers (PNG chunk CRCs / IEND) may
                    # truncate silently — and then the decode must be
                    # byte-identical, never short pixel data
                    assert got == whole, cut
                magic = payload[:8] if payload[:1] == b"\x89" else payload[:4]
                for _ in range(300):
                    blob = magic + rng.integers(
                        0, 256, size=int(rng.integers(0, 120)), dtype=np.uint8
                    ).tobytes()
                    try:
                        dec(blob)  # a random blob may legally parse…
                    except MEDIA_DECODE_ERRORS:
                        pass  # …or must fail inside the contract

    def test_feature_operators_quarantine_corrupt_payloads(self, spark):
        """r09 verdict order #1, the operator-level pin: one corrupt
        payload in a batch must cost exactly one decoded=false row with
        NULL features — never the stage — across all four media feature
        operators, while intact rows keep decoding exactly."""
        import numpy as np

        from pulseboard_spark.operators.jpeg import (
            decoded_jpeg_features, encode_jpeg_gray,
        )
        from pulseboard_spark.operators.multimodal import (
            decoded_audio_features, decoded_features, encode_png,
            encode_ppm_video, encode_wav, sampled_frame_features,
        )

        img = np.full((8, 8), 100, dtype=np.uint8)
        jp = encode_jpeg_gray(8, 8, img.tobytes())
        rgb = bytes(range(192))
        png = encode_png(8, 8, rgb)
        wav = encode_wav(8000, np.arange(50, dtype=np.int16))
        clip = encode_ppm_video(4, 4, [bytes(48), bytes(48)])

        def run(op, payloads, media_typed=True):
            rows = [(i, "x", bytearray(p)) if media_typed else (i, bytearray(p))
                    for i, p in enumerate(payloads)]
            schema = ("doc_id long, media_type string, payload binary"
                      if media_typed else "doc_id long, payload binary")
            return {r.doc_id: r for r in op(spark.createDataFrame(rows, schema)).collect()}

        for op, payload, typed in (
            (decoded_jpeg_features, jp, True),
            (decoded_features, png, True),
            (decoded_audio_features, wav, False),
            (sampled_frame_features, clip, False),
        ):
            got = run(op, [payload, payload[:7], b"\x00" * 9, payload], typed)
            assert got[0].decoded and got[3].decoded
            for bad in (1, 2):
                r = got[bad]
                assert r.decoded is False
                for field, v in r.asDict().items():
                    if field not in ("doc_id", "media_type", "decoded"):
                        assert v is None, (op.__name__, field, v)
            # the quarantine counter a pipeline would run
            assert sum(not r.decoded for r in got.values()) == 2

    def test_fingerprint_dedup_drops_corrupt_payloads(self, spark):
        """The dedup twins of the quarantine contract: a payload that
        can't be fingerprinted (corrupt, or smaller than the hash width)
        is dropped from dedup consideration — never fatal, and never a
        bogus group member."""
        import numpy as np

        from pulseboard_spark.operators.multimodal import (
            audio_fingerprint_dedup, encode_ppm, encode_wav,
            perceptual_hash_dedup,
        )

        rgb = bytes((i * 7) % 256 for i in range(192))
        png_ok = encode_ppm(8, 8, rgb)
        tiny = encode_ppm(4, 4, bytes(48))  # 16 px < 64 hash bits
        rows = [(0, "x", bytearray(png_ok)), (1, "x", bytearray(png_ok[:9])),
                (2, "x", bytearray(tiny)), (3, "x", bytearray(png_ok))]
        got = perceptual_hash_dedup(
            spark.createDataFrame(rows, "doc_id long, media_type string, payload binary")
        ).collect()
        assert {r.doc_id for r in got} == {0, 3}
        assert all(r.is_duplicate == (r.doc_id == 3) for r in got)

        wav_ok = encode_wav(8000, (np.arange(100) % 7 - 3).astype(np.int16))
        wav_tiny = encode_wav(8000, np.arange(8, dtype=np.int16))
        arows = [(0, bytearray(wav_ok)), (1, bytearray(wav_ok[:6])),
                 (2, bytearray(wav_tiny)), (3, bytearray(wav_ok))]
        agot = audio_fingerprint_dedup(
            spark.createDataFrame(arows, "doc_id long, payload binary")
        ).collect()
        assert {r.doc_id for r in agot} == {0, 3}
        assert all(r.is_duplicate == (r.doc_id == 3) for r in agot)

    def test_decoded_features_match_pixel_model(self, spark, sf_dir):
        """End-to-end: synth PNG/PPM payloads, decode through the stdlib
        codec, and check channel sums against the closed-form model."""
        from pulseboard_spark.operators.multimodal import (
            decoded_features,
            synth_images,
        )
        from pulseboard_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents")
        rows = decoded_features(synth_images(docs)).collect()
        assert len(rows) == docs.count()
        for r in rows[:50]:
            w, h = 8 + r.doc_id % 16, 8 + r.doc_id % 12
            assert (r.width, r.height, r.n_pixels) == (w, h, w * h)
            ps = [(r.doc_id + i) % 256 for i in range(w * h * 3)]
            assert r.sum_r == sum(ps[0::3])
            assert r.sum_g == sum(ps[1::3])
            assert r.sum_b == sum(ps[2::3])
            assert r.decoded


class TestMediaFusion:
    """The fused synth→decode stages (r10 optimization: one Arrow pass,
    payloads never cross the Python↔JVM boundary) must be row-identical
    to the chained two-stage forms they replace."""

    @staticmethod
    def _rows(df):
        return sorted(tuple(r) for r in df.collect())

    def test_fused_pipelines_match_chained(self, spark, sf_dir):
        from pulseboard_spark.operators import jpeg, multimodal
        from pulseboard_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents")
        pairs = [
            (jpeg.synth_jpeg_features(docs),
             jpeg.decoded_jpeg_features(jpeg.synth_jpeg(docs))),
            (multimodal.synth_image_features(docs),
             multimodal.decoded_features(multimodal.synth_images(docs))),
            (multimodal.synth_audio_features(docs),
             multimodal.decoded_audio_features(multimodal.synth_audio(docs))),
            (multimodal.synth_video_frame_features(docs),
             multimodal.sampled_frame_features(multimodal.synth_video(docs))),
        ]
        for fused, chained in pairs:
            assert fused.schema == chained.schema
            assert self._rows(fused) == self._rows(chained)

    def test_fused_quarantine_matches_jvm_corruption(self, spark, sf_dir):
        """The Python corruption kernel must be byte-equivalent to the JVM
        expressions it replaced (substring/concat on binary)."""
        from pyspark.sql import functions as F

        from pulseboard_spark.operators import jpeg
        from pulseboard_spark.registry import QUERIES
        from pulseboard_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents")
        media = jpeg.synth_jpeg(docs)
        jvm_corrupted = media.withColumn(
            "payload",
            F.when(F.col("doc_id") % 7 == 3, F.expr("substring(payload, 1, 20)"))
            .when(
                F.col("doc_id") % 7 == 5,
                F.concat(F.lit(bytearray(b"\x00\x00")),
                         F.expr("substring(payload, 3, 1073741824)")),
            )
            .otherwise(F.col("payload")),
        )
        chained = jpeg.decoded_jpeg_features(jvm_corrupted)
        fused = QUERIES["jpeg_features_quarantine"](spark, sf_dir)
        assert fused.schema == chained.schema
        assert self._rows(fused) == self._rows(chained)
        # both corrupt populations actually present
        flags = {r[0] % 7: r[-1] for r in fused.collect()}
        assert flags.get(3) is False and flags.get(5) is False


class TestJpegCodec:
    """The general lossy baseline-JPEG path (nonzero AC, run-length,
    stuffing, cropping) — the parts the oracle's exact constant-block
    family cannot cover."""

    def test_exact_family_round_trips_bit_exact(self):
        """The oracle contract: constant EVEN 8x8 blocks + DC step 16
        round-trip with zero loss."""
        import numpy as np

        from pulseboard_spark.operators.jpeg import decode_jpeg_gray, encode_jpeg_gray

        for d in (0, 1, 5, 17, 254):
            w, h = 8 * (1 + d % 3), 8 * (1 + d % 2)
            img = np.empty((h, w), dtype=np.uint8)
            for by in range(h // 8):
                for bx in range(w // 8):
                    img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = 2 * ((d + bx + 7 * by) % 128)
            w2, h2, gray = decode_jpeg_gray(encode_jpeg_gray(w, h, img.tobytes()))
            assert (w2, h2) == (w, h)
            assert gray == img.tobytes()

    def test_random_pixels_bounded_error(self):
        """Arbitrary input exercises AC magnitude/run-length coding; the
        reconstruction error is bounded by the quantization step."""
        import numpy as np

        from pulseboard_spark.operators.jpeg import decode_jpeg_gray, encode_jpeg_gray

        rng = np.random.default_rng(7)
        for _ in range(4):
            w, h = int(rng.integers(8, 40)), int(rng.integers(8, 40))
            img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
            payload = encode_jpeg_gray(w, h, img.tobytes())
            w2, h2, gray = decode_jpeg_gray(payload)
            assert (w2, h2) == (w, h)
            got = np.frombuffer(gray, dtype=np.uint8).reshape(h, w).astype(int)
            # uniform step 16: worst-case per-pixel error stays well under
            # 2 steps even with every AC coefficient rounding adversarially
            assert np.abs(got - img.astype(int)).max() <= 32

    def test_byte_stuffing_and_crop(self):
        """A near-saturated image forces 0xFF bytes into the entropy
        stream (stuffing), and non-multiple-of-8 dims force pad+crop."""
        import numpy as np

        from pulseboard_spark.operators.jpeg import decode_jpeg_gray, encode_jpeg_gray

        img = np.full((10, 13), 254, dtype=np.uint8)
        payload = encode_jpeg_gray(13, 10, img.tobytes())
        w, h, gray = decode_jpeg_gray(payload)
        assert (w, h) == (13, 10)
        got = np.frombuffer(gray, dtype=np.uint8).reshape(10, 13).astype(int)
        assert np.abs(got - 254).max() <= 2

    def test_unsupported_scope_raises(self):
        import pytest as _pytest

        from pulseboard_spark.operators.jpeg import decode_jpeg_gray, encode_jpeg_gray

        with _pytest.raises(ValueError):
            decode_jpeg_gray(b"not a jpeg")
        # flip SOF0 -> SOF2 (progressive): must refuse, not mis-decode
        import numpy as np

        p = bytearray(encode_jpeg_gray(8, 8, np.zeros(64, dtype=np.uint8).tobytes()))
        p[bytes(p).index(b"\xff\xc0") + 1] = 0xC2
        with _pytest.raises(NotImplementedError):
            decode_jpeg_gray(bytes(p))

    def test_marker_parse_hardening(self):
        """External-payload robustness (r08 advisory): spec-legal 0xFF
        fill bytes before a marker must parse; standalone markers (TEM,
        stray RSTn) must refuse loudly instead of desynchronizing; a
        wrong-sized pixel buffer must raise a contract error, not an
        opaque reshape failure."""
        import numpy as np
        import pytest as _pytest

        from pulseboard_spark.operators.jpeg import decode_jpeg_gray, encode_jpeg_gray

        img = np.full((8, 8), 100, dtype=np.uint8)
        payload = encode_jpeg_gray(8, 8, img.tobytes())
        # inject 0xFF fill bytes before the DQT marker (T.81 B.1.1.2)
        padded = payload[:2] + b"\xff\xff\xff" + payload[2:]
        assert decode_jpeg_gray(padded) == decode_jpeg_gray(payload)
        # a standalone TEM marker in the header section has no length field
        tem = payload[:2] + b"\xff\x01" + payload[2:]
        with _pytest.raises((NotImplementedError, ValueError)):
            decode_jpeg_gray(tem)
        with _pytest.raises(ValueError):
            encode_jpeg_gray(8, 8, img.tobytes()[:-1])

    def test_color_444_round_trip(self):
        """3-component YCbCr without subsampling: exercises multi-table
        DQT/DHT (luma id 0 + Annex K chroma id 1), the interleaved MCU
        scan, per-component DC predictors, and the JFIF inverse color
        transform.  Error bound: quant step 16 on all three channels,
        amplified ≤ ~2.8x by the inverse transform."""
        import numpy as np

        from pulseboard_spark.operators.jpeg import decode_jpeg, encode_jpeg_color

        rng = np.random.default_rng(11)
        for _ in range(3):
            w, h = int(rng.integers(8, 40)), int(rng.integers(8, 40))
            img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            w2, h2, n, rgb = decode_jpeg(encode_jpeg_color(w, h, img.tobytes(), "4:4:4"))
            assert (w2, h2, n) == (w, h, 3)
            got = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3).astype(int)
            assert np.abs(got - img.astype(int)).max() <= 56

    def test_color_subsampled_round_trips(self):
        """4:2:0 and 4:2:2: luma blocks per MCU = v*h, chroma box-mean
        downsample + replication upsample, odd dims pad-and-crop.
        Gray-valued RGB makes chroma constant (subsampling-lossless), so
        the bound collapses to the luma path's; a saturated constant
        color pins the chroma transform itself."""
        import numpy as np

        from pulseboard_spark.operators.jpeg import decode_jpeg, encode_jpeg_color

        rng = np.random.default_rng(12)
        for sub in ("4:2:0", "4:2:2"):
            w, h = int(rng.integers(9, 40)), int(rng.integers(9, 40))
            g = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
            img = np.stack([g, g, g], axis=-1)
            w2, h2, n, rgb = decode_jpeg(encode_jpeg_color(w, h, img.tobytes(), sub))
            assert (w2, h2, n) == (w, h, 3)
            got = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3).astype(int)
            assert np.abs(got - img.astype(int)).max() <= 24, sub

            const = np.zeros((21, 13, 3), np.uint8)
            const[...] = (200, 30, 90)
            _, _, _, rgb = decode_jpeg(encode_jpeg_color(13, 21, const.tobytes(), sub))
            got = np.frombuffer(rgb, dtype=np.uint8).reshape(21, 13, 3).astype(int)
            assert np.abs(got - const.astype(int)).max() <= 4, sub

    def test_color_scope_contracts(self):
        """Color payloads refuse the gray facade (no silent luma
        extraction); bad subsampling names and wrong-sized buffers raise
        contract errors; decode_image returns the color pixels."""
        import numpy as np
        import pytest as _pytest

        from pulseboard_spark.operators.jpeg import (
            decode_jpeg_gray, encode_jpeg_color,
        )
        from pulseboard_spark.operators.multimodal import decode_image

        img = np.zeros((8, 8, 3), np.uint8)
        img[...] = (10, 200, 60)
        payload = encode_jpeg_color(8, 8, img.tobytes(), "4:2:0")
        with _pytest.raises(NotImplementedError):
            decode_jpeg_gray(payload)
        with _pytest.raises(ValueError):
            encode_jpeg_color(8, 8, img.tobytes(), "4:1:1")
        with _pytest.raises(ValueError):
            encode_jpeg_color(8, 8, img.tobytes()[:-1])
        w, h, rgb = decode_image(payload)
        got = np.frombuffer(rgb, dtype=np.uint8).reshape(8, 8, 3).astype(int)
        assert (w, h) == (8, 8)
        assert np.abs(got - img.astype(int)).max() <= 4

    def test_restart_intervals_round_trip(self):
        """DRI/RSTm both directions: encoding with a restart interval
        yields a byte-DIFFERENT stream (markers + predictor resets) that
        decodes byte-IDENTICAL to the unrestarted stream — the quantized
        data is the same, only the entropy framing changes.  Interval 1
        on a 42-MCU image wraps the RST index past 7 (modulo-8 path);
        an out-of-order marker raises instead of desyncing.  The default
        restart_interval=0 stays byte-identical to earlier rounds."""
        import numpy as np
        import pytest as _pytest

        from pulseboard_spark.operators.jpeg import (
            decode_jpeg, decode_jpeg_gray, encode_jpeg_color, encode_jpeg_gray,
        )

        rng = np.random.default_rng(21)
        img = rng.integers(0, 256, size=(24, 40), dtype=np.uint8)
        p0 = encode_jpeg_gray(40, 24, img.tobytes())
        assert p0 == encode_jpeg_gray(40, 24, img.tobytes(), restart_interval=0)
        p2 = encode_jpeg_gray(40, 24, img.tobytes(), restart_interval=2)
        assert p2 != p0 and b"\xff\xdd" in p2
        assert decode_jpeg_gray(p2) == decode_jpeg_gray(p0)

        cimg = rng.integers(0, 256, size=(48, 56, 3), dtype=np.uint8)
        for sub in ("4:4:4", "4:2:0", "4:2:2"):
            pa = encode_jpeg_color(56, 48, cimg.tobytes(), sub)
            pb = encode_jpeg_color(56, 48, cimg.tobytes(), sub, restart_interval=1)
            assert decode_jpeg(pb) == decode_jpeg(pa), sub

        bad = bytearray(encode_jpeg_color(56, 48, cimg.tobytes(), "4:2:0", restart_interval=2))
        i = bad.find(b"\xff\xd0", 200)
        bad[i + 1] = 0xD5
        with _pytest.raises(ValueError, match="out of order"):
            decode_jpeg(bytes(bad))

    def test_non_interleaved_scans_decode_identically(self):
        """The other spec-legal baseline layout: three single-component
        scans instead of one interleaved scan.  Same quantized
        coefficients → the decoder must produce byte-identical pixels
        from either layout, across all subsamplings and with restart
        intervals (whose block-per-unit counting differs per layout)."""
        import numpy as np

        from pulseboard_spark.operators.jpeg import decode_jpeg, encode_jpeg_color

        rng = np.random.default_rng(31)
        for sub in ("4:4:4", "4:2:0", "4:2:2"):
            for ri in (0, 3):
                w, h = int(rng.integers(9, 50)), int(rng.integers(9, 50))
                img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
                pi = encode_jpeg_color(w, h, img.tobytes(), sub,
                                       restart_interval=ri, interleaved=True)
                pn = encode_jpeg_color(w, h, img.tobytes(), sub,
                                       restart_interval=ri, interleaved=False)
                assert pn.count(b"\xff\xda") == 3 and pi.count(b"\xff\xda") == 1
                assert decode_jpeg(pi) == decode_jpeg(pn), (sub, ri)

    def test_malformed_payload_exception_contract(self):
        """External-corpus robustness: EVERY truncation of a valid
        stream, random garbage after SOI, and single-byte flips must
        raise ValueError/NotImplementedError/EOFError — never IndexError
        / struct.error / OverflowError (the leaks this pin was written
        against), never a hang, never silent garbage-as-success for a
        structurally broken header.  (Bit flips inside entropy data that
        still decode are inherent to compression and are not errors.)"""
        import numpy as np
        import pytest as _pytest

        from pulseboard_spark.operators.jpeg import (
            decode_jpeg, encode_jpeg_color, encode_jpeg_gray,
        )

        allowed = (ValueError, NotImplementedError, EOFError)
        rng = np.random.default_rng(5)
        img = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
        payload = encode_jpeg_color(16, 16, img.tobytes(), "4:2:0", restart_interval=2)
        for cut in range(2, len(payload)):
            with _pytest.raises(allowed):
                decode_jpeg(payload[:cut])
        gray = encode_jpeg_gray(16, 16, rng.integers(0, 256, size=(16, 16), dtype=np.uint8).tobytes())
        for cut in range(2, len(gray)):
            with _pytest.raises(allowed):
                decode_jpeg(gray[:cut])
        for _ in range(800):
            blob = b"\xff\xd8" + rng.integers(
                0, 256, size=int(rng.integers(0, 300)), dtype=np.uint8
            ).tobytes()
            with _pytest.raises(allowed):
                decode_jpeg(blob)
        for _ in range(1200):
            b = bytearray(payload)
            b[int(rng.integers(2, len(payload)))] = int(rng.integers(0, 256))
            try:
                decode_jpeg(bytes(b))  # entropy-area flips may legally decode
            except allowed:
                pass

    def test_golden_vectors_decode_exactly(self):
        """Externally-derived golden vectors (r09 verdict order #3): three
        tiny baseline JPEGs hand-assembled per ITU-T T.81 byte layout
        (tools/golden_jpeg_vectors.py — independent of this codec, never
        calls encode_jpeg_*), DC-only blocks so the expected pixels are
        closed-form on paper: IDCT of a DC-only block is the flat value
        DC*q/8 (+128 level shift), color via the published JFIF/BT.601
        inverse.  This pins the color decode path against a mirrored
        encoder/decoder bug that self-round-trip tests cannot catch
        (quant step 16, custom 3-codes-len2/1-code-len3 DC table, EOB-only
        AC table; v3 additionally chains DC predictors across the 4 luma
        blocks of one 4:2:0 MCU and exercises chroma replication)."""
        import numpy as np

        from pulseboard_spark.operators.jpeg import decode_jpeg

        _hdr = (  # shared DQT (all-16) + trailing DHT layout, see generator
            "ffd8ffdb004300"
            + "10" * 64
        )
        _dht = ("ffc40029000003010000000000000000000000000000010203"
                "100100000000000000000000000000000000")
        # v1: 8x8 grayscale, DC diff +5 -> every pixel 5*16/8 + 128 = 138
        v1 = bytes.fromhex(
            _hdr + "ffc0000b080008000801011100" + _dht
            + "ffda0008010100003f00" + "d5" + "ffd9"
        )
        w, h, n, px = decode_jpeg(v1)
        assert (w, h, n) == (8, 8, 1) and px == bytes([138]) * 64
        # v2: 8x8 YCbCr 4:4:4 flat Y=136 Cb=132 Cr=122 -> RGB (128,139,143)
        v2 = bytes.fromhex(
            _hdr + "ffc00011080008000803011100021100031100" + _dht
            + "ffda000c03010002000300003f00" + "d1487f" + "ffd9"
        )
        w, h, n, px = decode_jpeg(v2)
        assert (w, h, n) == (8, 8, 3) and px == bytes((128, 139, 143)) * 64
        # v3: 16x16 4:2:0, Y quadrants TL 132 / TR 136 / BL 140 / BR 132
        # (DC diffs +2,+2,+2,-4), Cb=130, Cr=126
        v3 = bytes.fromhex(
            _hdr + "ffc00011080010001003012200021100031100" + _dht
            + "ffda000c03010002000300003f00" + "a5299993" + "ffd9"
        )
        w, h, n, px = decode_jpeg(v3)
        assert (w, h, n) == (16, 16, 3)
        a = np.frombuffer(px, np.uint8).reshape(16, 16, 3)
        for r0, c0, want in ((0, 0, (129, 133, 136)), (0, 8, (133, 137, 140)),
                             (8, 0, (137, 141, 144)), (8, 8, (129, 133, 136))):
            quad = a[r0 : r0 + 8, c0 : c0 + 8].reshape(-1, 3)
            assert {tuple(p) for p in quad} == {want}, (r0, c0)

    def test_r09_advisory_hardenings(self):
        """r10 advisory closures: duplicate SOF component ids must be
        rejected at parse (they defeated the id-keyed scan-coverage check
        and could return uninitialized plane memory); an SOS declaring
        Ns=0 must raise ValueError, not IndexError; spec-legal 0xFF fill
        bytes immediately before an in-scan RSTn (and before EOI) must
        decode identically, not truncate the scan."""
        import numpy as np
        import pytest as _pytest

        from pulseboard_spark.operators.jpeg import (
            decode_jpeg, encode_jpeg_color, encode_jpeg_gray,
        )

        rng = np.random.default_rng(41)
        cimg = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
        payload = encode_jpeg_color(16, 16, cimg.tobytes(), "4:2:0")
        # duplicate component ids: SOF0 body = P(1) Y(2) X(2) Nf(1) then
        # (Cid, HV, Tq) triples — rewrite Cb's id (2) to collide with Y (1)
        sof = payload.index(b"\xff\xc0")
        dup = bytearray(payload)
        assert dup[sof + 4 + 6] == 1 and dup[sof + 4 + 9] == 2
        dup[sof + 4 + 9] = 1
        with _pytest.raises(ValueError, match="duplicate component ids"):
            decode_jpeg(bytes(dup))
        # SOS with Ns=0: the truncation guard is vacuous at 0, so the
        # range check must fire (never IndexError at sel[0])
        sos = payload.index(b"\xff\xda")
        ns0 = bytearray(payload)
        assert ns0[sos + 4] == 3
        ns0[sos + 4] = 0
        with _pytest.raises(ValueError, match="component count"):
            decode_jpeg(bytes(ns0))
        # fill bytes before an in-scan restart marker and before EOI
        gimg = rng.integers(0, 256, size=(24, 24), dtype=np.uint8)
        gp = encode_jpeg_gray(24, 24, gimg.tobytes(), restart_interval=2)
        rst = gp.index(b"\xff\xd0", gp.index(b"\xff\xda"))
        filled = gp[:rst] + b"\xff\xff" + gp[rst:]
        filled = filled[:-2] + b"\xff" + filled[-2:]  # fill before EOI too
        assert decode_jpeg(filled) == decode_jpeg(gp)

    def test_jpeg_features_match_block_model(self, spark, sf_dir):
        """End-to-end: synth JPEG payloads, full entropy decode, luma
        stats against the closed-form block model (the oracle's formula)."""
        from pulseboard_spark.operators.jpeg import decoded_jpeg_features, synth_jpeg
        from pulseboard_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents")
        rows = decoded_jpeg_features(synth_jpeg(docs)).collect()
        assert len(rows) == docs.count()
        for r in rows[:50]:
            d = r.doc_id
            w, h = 8 * (1 + d % 3), 8 * (1 + d % 2)
            blocks = [2 * ((d + bx + 7 * by) % 128) for bx in range(w // 8) for by in range(h // 8)]
            assert (r.width, r.height, r.n_pixels) == (w, h, w * h)
            assert r.n_blocks == len(blocks)
            assert r.sum_luma == 64 * sum(blocks)
            assert r.max_luma == max(blocks)
            assert r.decoded


def test_ivf_topk_full_probe_is_exact(spark, sf_dir, monkeypatch):
    """IVF with every cell probed must reproduce the brute-force result
    bit-for-bit (same kernel, same rounding, same tie-break) — recall loss
    can come only from unprobed cells."""
    from pulseboard_spark.operators import similarity
    from pulseboard_spark.operators.similarity import cosine_topk, ivf_topk
    from pulseboard_spark.sources.tables import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    exact = {tuple(r) for r in cosine_topk(embs, 5).collect()}
    monkeypatch.setattr(similarity, "IVF_NPROBE", 10**6)
    full = {tuple(r) for r in ivf_topk(embs, 5).collect()}
    assert full == exact


def test_ivf_topk_recall(spark, sf_dir):
    """Default nprobe (5 of ~22 cells at sf0.001) keeps useful recall."""
    from pulseboard_spark.operators.similarity import cosine_topk, ivf_topk
    from pulseboard_spark.sources.tables import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    exact = {(r[0], r[1]) for r in cosine_topk(embs, 5).collect()}
    approx = {(r[0], r[1]) for r in ivf_topk(embs, 5).collect()}
    assert len(approx & exact) / len(exact) >= 0.5


def test_asof_join_semantics(spark):
    """Backward as-of: at-or-before match, max-ts wins, ties broken by
    right_order, left rows always kept."""
    from pulseboard_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [("a", 100, "L1"), ("a", 50, "L2"), ("b", 10, "L3"), ("c", 99, "L4")],
        "entity_id string, ts_ms long, tag string",
    )
    right = spark.createDataFrame(
        # key a: rows at 50 (two, order 1 & 2), 80;  key b: row after left ts
        [("a", 50, 1, 10.0), ("a", 50, 2, 20.0), ("a", 80, 3, 30.0), ("b", 20, 4, 40.0)],
        "entity_id string, ts_ms long, ord long, val double",
    )
    out = asof_join(left, right, on=["entity_id"], ts="ts_ms", right_order="ord")
    rows = {r["tag"]: r for r in out.collect()}
    assert len(rows) == 4  # left cardinality preserved
    assert rows["L1"]["ord"] == 3 and rows["L1"]["matched_ts"] == 80
    # at-or-before includes equal ts; tie on (key, ts) -> greatest right_order
    assert rows["L2"]["ord"] == 2 and rows["L2"]["val"] == 20.0
    assert rows["L3"]["ord"] is None  # right row is after the left ts
    assert rows["L4"]["ord"] is None  # key never appears on the right


def test_sessionize_gap_boundary(spark, monkeypatch):
    """A gap exactly equal to SESSION_GAP_MS stays in the same session
    (strictly greater starts a new one)."""
    from pulseboard_spark.operators import sessions
    from pulseboard_spark.operators.sessions import sessionize

    monkeypatch.setattr(sessions, "SESSION_GAP_MS", 1000)
    ev = spark.createDataFrame(
        [(1, "u", 0, 1.0), (2, "u", 1000, 1.0), (3, "u", 2001, 1.0)],
        "event_id long, entity_id string, ts_ms long, value double",
    )
    out = sessionize(ev).orderBy("session_start_ms").collect()
    assert [r["n_events"] for r in out] == [2, 1]
    assert out[0]["session_end_ms"] == 1000 and out[1]["session_start_ms"] == 2001


class TestExtensions:
    """UDF extension registry (SURVEY §2.8): pandas UDFs are the default
    path, scalar UDFs the flagged slow path; both usable from DataFrame
    and SQL after install()."""

    @pytest.fixture(autouse=True, scope="class")
    def _registered(self):
        """Both extensions, registered for every test of the class (a test
        run on its own must not depend on another test's registrations)."""
        from pulseboard_spark.functions import extensions as X

        @X.register_pandas("px_double", "double")
        def px_double(s):
            return s * 2.0

        @X.register_scalar("px_shout", "string")
        def px_shout(s):
            return None if s is None else s.upper()

    def test_pandas_and_scalar_roundtrip(self, spark):
        from pulseboard_spark.functions import extensions as X

        names = X.install(spark)
        assert {"px_double", "px_shout"} <= set(names)

        df = spark.createDataFrame([(1.5, "a"), (2.0, "b")], "v double, s string")
        got = df.select(
            X.get("px_double")("v").alias("d"), X.get("px_shout")("s").alias("u")
        ).collect()
        assert [(r.d, r.u) for r in got] == [(3.0, "A"), (4.0, "B")]

        df.createOrReplaceTempView("px_in")
        got_sql = spark.sql(
            "SELECT px_double(v) AS d, px_shout(s) AS u FROM px_in ORDER BY d"
        ).collect()
        assert [(r.d, r.u) for r in got_sql] == [(3.0, "A"), (4.0, "B")]

    def test_plans_distinguish_vectorized(self, spark):
        from pulseboard_spark.functions import extensions as X

        df = spark.range(10).select(F.col("id").cast("double").alias("v"), F.col("id").cast("string").alias("s"))
        vec_plan = df.select(X.get("px_double")("v"))._jdf.queryExecution().executedPlan().toString()
        row_plan = df.select(X.get("px_shout")("s"))._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in vec_plan, "pandas UDF must be Arrow-vectorized"
        assert "BatchEvalPython" in row_plan, "scalar UDF is the row-at-a-time slow path"
        assert "slow" in X.describe()["px_shout"] or "vectorize" in X.describe()["px_shout"]


class TestScd:
    def _evprof(self, spark):
        rows = [
            # (profile, event_id, ts_us, ctype, plan, country)
            ("p1", "e1", 1_000_000, "IDENTIFY", "basic", "US"),
            ("p1", "e2", 2_000_000, "IDENTIFY", "basic", "US"),   # no change
            ("p1", "e3", 3_000_000, "IDENTIFY", "pro", "US"),     # plan flips
            ("p1", "e4", 4_000_000, "TRACK", None, None),          # ignored
            ("p2", "e5", 1_000_000, "IDENTIFY", "pro", None),      # null country
        ]
        return spark.createDataFrame(
            [(p, e, us, us // 1000, ct, pl, co) for p, e, us, ct, pl, co in rows],
            "profile_id string, event_id string, ts_us long, ts_ms long, "
            "ctype string, plan string, country string",
        )

    def test_trait_history_intervals(self, spark):
        from pulseboard_spark.operators.scd import trait_history

        got = {
            (r.profile_id, r.trait, r.version): (r.value, r.valid_from_ms, r.valid_to_ms)
            for r in trait_history(self._evprof(spark)).collect()
        }
        assert got == {
            ("p1", "plan", 1): ("basic", 1000, 3000),
            ("p1", "plan", 2): ("pro", 3000, None),
            ("p1", "country", 1): ("US", 1000, None),
            ("p2", "plan", 1): ("pro", 1000, None),
        }

    def test_open_interval_is_lww(self, spark, sf_dir):
        """The open SCD2 interval must equal build_profiles' LWW trait."""
        from pulseboard_spark.operators.scd import trait_history
        from pulseboard_spark.registry import _evprof, cdp_profiles_q

        ev = _evprof(spark, sf_dir)
        open_rows = {
            (r.profile_id, r.trait): r.value
            for r in trait_history(ev).where("valid_to_ms IS NULL").collect()
        }
        for p in cdp_profiles_q(spark, sf_dir).collect():
            if p.plan is not None:
                assert open_rows[(p.profile_id, "plan")] == p.plan
            if p.country is not None:
                assert open_rows[(p.profile_id, "country")] == p.country


class TestHistogram:
    def test_bins_partition_the_rows(self, spark, sf_dir):
        from pulseboard_spark.operators.mlprep import value_histogram
        from pulseboard_spark.sources.tables import entity_events

        ev = entity_events(spark, sf_dir)
        hist = value_histogram(ev).collect()
        assert all(0 <= r.bin < 20 for r in hist)
        assert sum(r.n for r in hist) == ev.where("value IS NOT NULL").count()
        for r in hist:
            assert r.bin_lo <= r.bin_hi

    def test_degenerate_group_single_bin(self, spark):
        from pulseboard_spark.operators.mlprep import value_histogram

        df = spark.createDataFrame([("a", 7)] * 5, "type string, value long")
        rows = value_histogram(df).collect()
        assert len(rows) == 1 and rows[0].bin == 0 and rows[0].n == 5


class TestInvertedIndex:
    def test_postings_capped_and_consistent(self, spark, sf_dir, monkeypatch):
        from pulseboard_spark.operators import text
        from pulseboard_spark.operators.text import inverted_index
        from pulseboard_spark.sources.tables import load_table

        monkeypatch.setattr(text, "MAX_POSTINGS", 5)
        idx = inverted_index(load_table(spark, sf_dir, "documents"))
        rows = idx.collect()
        assert rows, "empty index"
        for r in rows:
            assert len(r.postings) <= 5
            assert len(r.postings) == min(r.doc_freq, 5)
            assert r.postings == sorted(r.postings)


class TestHeavyHitters:
    def test_threshold_and_bound(self, spark, monkeypatch):
        from pulseboard_spark.operators import relational
        from pulseboard_spark.operators.relational import heavy_hitters

        monkeypatch.setattr(relational, "HEAVY_HITTER_MIN_SHARE_BP", 2500)
        # group g: 60/30/10 split at 2500 bp keeps only the top two
        rows = [("g", "a")] * 6 + [("g", "b")] * 3 + [("g", "c")] * 1
        df = spark.createDataFrame(rows, "k string, v string")
        got = {r.v: (r.n, r.n_total, r.share_bp) for r in heavy_hitters(df, ["k"], "v").collect()}
        assert got == {"a": (6, 10, 6000), "b": (3, 10, 3000)}

    def test_output_bounded_by_inverse_share(self, spark, sf_dir):
        from pulseboard_spark.operators.relational import heavy_hitters
        from pulseboard_spark.sources.tables import entity_events

        per_geo = (
            heavy_hitters(entity_events(spark, sf_dir), ["geo"], "type")
            .groupBy("geo").count().collect()
        )
        assert all(r["count"] <= 20 for r in per_geo)


class TestTermCooccurrence:
    def test_pairs_canonical_and_pmi_sane(self, spark, sf_dir):
        import math
        from pulseboard_spark.operators.text import term_cooccurrence
        from pulseboard_spark.sources.tables import load_table

        rows = term_cooccurrence(load_table(spark, sf_dir, "documents")).collect()
        assert rows
        for r in rows:
            assert r.term_a < r.term_b          # unordered pairs, canonical form
            assert r.n_docs_both >= 2
            assert math.isfinite(r.pmi)


class TestCatalog:
    def test_sql_over_registered_views(self, spark, sf_dir):
        """The SQL face: raw tables + derived views answer plain spark.sql,
        and a pure-SQL rewrite matches the operator output."""
        from pulseboard_spark.catalog import register_tables
        from pulseboard_spark.operators.relational import heavy_hitters
        from pulseboard_spark.sources.tables import entity_events

        register_tables(spark, sf_dir)
        n = spark.sql(
            "SELECT count(*) AS n FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"
        ).collect()[0].n
        assert n > 0
        got = {
            (r.geo, r.type): (r.n, r.share_bp)
            for r in spark.sql(
                """
                WITH counts AS (
                  SELECT geo, type, count(*) AS n FROM entity GROUP BY geo, type
                ), tot AS (
                  SELECT *, sum(n) OVER (PARTITION BY geo) AS n_total FROM counts
                )
                SELECT geo, type, n, (n * 10000) div n_total AS share_bp
                FROM tot WHERE n * 10000 >= 500 * n_total
                """
            ).collect()
        }
        want = {
            (r.geo, r.type): (r.n, r.share_bp)
            for r in heavy_hitters(entity_events(spark, sf_dir), ["geo"], "type").collect()
        }
        assert got == want

    def test_queries_as_views(self, spark, sf_dir, monkeypatch):
        from pulseboard_spark import registry
        from pulseboard_spark.catalog import register_queries

        monkeypatch.setattr(registry, "QUERIES", {
            n: registry.QUERIES[n] for n in ("tpch_q6_forecast_revenue", "value_histogram")
        })
        register_queries(spark, sf_dir)
        assert spark.sql("SELECT * FROM value_histogram WHERE bin >= 20").count() == 0
        assert spark.sql("SELECT revenue FROM tpch_q6_forecast_revenue").count() == 1


class TestBigrams:
    def test_bigram_counts_and_probability(self, spark):
        from pulseboard_spark.operators.text import bigram_stats

        df = spark.createDataFrame(
            [(1, "the cat sat"), (2, "the cat ran"), (3, "x")],
            "doc_id long, text string",
        )
        got = {(r.w1, r.w2): (r.n, r.n_first, r.p_follow_ppm) for r in bigram_stats(df).collect()}
        # 'the cat' twice; 'cat sat'/'cat ran' once each (below min_count);
        # single-token doc contributes nothing
        assert got == {("the", "cat"): (2, 2, 1000000)}

    def test_follow_probabilities_sum_to_one(self, spark, sf_dir, monkeypatch):
        from pyspark.sql import functions as F
        from pulseboard_spark.operators import text
        from pulseboard_spark.operators.text import bigram_stats
        from pulseboard_spark.sources.tables import load_table

        monkeypatch.setattr(text, "BIGRAM_MIN_COUNT", 1)
        rows = (
            bigram_stats(load_table(spark, sf_dir, "documents"))
            .groupBy("w1").agg(F.round(F.sum("n") / F.first("n_first"), 6).alias("s"))
            .collect()
        )
        assert rows and all(abs(r.s - 1.0) < 1e-6 for r in rows)


class TestGopherQuality:
    def test_rules_fire_both_ways(self, spark, sf_dir):
        from pulseboard_spark.operators.text import gopher_quality
        from pulseboard_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents")
        rows = gopher_quality(docs).collect()
        assert len(rows) == docs.count()
        for r in rows:
            assert 0 <= r.top_word_share_ppm <= 1000000
            assert 0 <= r.dup_shingle_frac_ppm <= 1000000

    def test_repetitive_doc_flagged(self, spark):
        from pulseboard_spark.operators.text import gopher_quality

        rows = [
            (1, "spam " * 200),                       # one word repeated: top share 1
            # digits are stripped by the [a-z]+ tokenizer, so distinct words
            # must differ in their LETTERS
            (2, " ".join(
                "w" + "".join("abcdefghij"[int(c)] for c in str(i)) for i in range(60)
            )),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r for r in gopher_quality(df).collect()}
        assert not got[1].passes and got[1].top_word_share_ppm == 1000000
        assert got[1].dup_shingle_frac_ppm > 900000
        assert got[2].passes


class TestMadOutliers:
    def test_outliers_flagged_robustly(self, spark):
        from pulseboard_spark.operators.mlprep import mad_outliers

        rows = [("a", float(v)) for v in [10, 11, 9, 10, 12, 10, 11, 1000]]
        df = spark.createDataFrame(rows, "type string, value double")
        r = mad_outliers(df).collect()[0]
        # lower discrete median of the 8 values is 10 (4th of the sorted
        # run), MAD = 1; only 1000 exceeds the 3·1.4826·MAD band — the
        # robust stat ignores its own outlier
        assert r.n_values == 8 and r.median_value == 10.0 and r.mad_value == 1.0
        assert r.n_outliers == 1

    def test_zero_mad_degenerate(self, spark):
        from pulseboard_spark.operators.mlprep import mad_outliers

        df = spark.createDataFrame(
            [("a", 5.0)] * 10 + [("a", 6.0)], "type string, value double"
        )
        r = mad_outliers(df).collect()[0]
        assert r.mad_value == 0.0 and r.n_outliers == 1   # any v != median flags


class TestApproxDistinct:
    def test_sketch_within_rsd_of_exact(self, spark, sf_dir):
        """HLL++ distinct-user counts must land within ~3× the configured
        rsd of the exact answer (rows-only driver check makes this test
        the correctness gate for the sketch path)."""
        from pyspark.sql import functions as F
        from pulseboard_spark.registry import approx_user_counts_q
        from pulseboard_spark.sources.tables import entity_events

        approx = {r.type: r.approx_users for r in approx_user_counts_q(spark, sf_dir).collect()}
        exact = {
            r.type: r.n
            for r in entity_events(spark, sf_dir)
            .groupBy("type")
            .agg(F.countDistinct("entity_id").alias("n"))
            .collect()
        }
        assert set(approx) == set(exact)
        for t, n in exact.items():
            assert abs(approx[t] - n) <= max(3, 0.075 * n), (t, approx[t], n)


class TestSplits:
    def test_partition_disjoint_exhaustive_stable(self, spark, sf_dir):
        from pulseboard_spark.operators.sampling import train_val_test_split
        from pulseboard_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        full = train_val_test_split(docs, "doc_id")
        counts = {r.split: r.n for r in full.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert sum(counts.values()) == docs.count()
        assert set(counts) == {"train", "val", "test"}
        # growth stability: the split of a doc must not depend on which
        # other docs are present
        half = train_val_test_split(docs.limit(200), "doc_id")
        sub = {r.doc_id: r.split for r in half.collect()}
        whole = {r.doc_id: r.split for r in full.collect()}
        assert all(whole[d] == s for d, s in sub.items())


class TestBpeMerges:
    def test_top_pair_matches_counter(self, spark, monkeypatch):
        from collections import Counter

        from pulseboard_spark.operators import text
        from pulseboard_spark.operators.text import bpe_merge_candidates

        monkeypatch.setattr(text, "BPE_TOP_N", 3)
        texts = ["banana band bandana", "an ant and an anvil"]
        df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
        got = [(r.c1, r.c2, r.n) for r in bpe_merge_candidates(df).orderBy("rnk").collect()]
        cnt = Counter()
        import re as _re
        for t in texts:
            for w in _re.findall("[a-z]+", t.lower()):
                for a, b in zip(w, w[1:]):
                    cnt[(a, b)] += 1
        want = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        assert got == [(a, b, n) for (a, b), n in want]


class TestBuildCorpus:
    def test_pipeline_manifest_invariants(self, spark, sf_dir, tmp_path):
        from pulseboard_spark.operators.corpus import build_corpus

        m = build_corpus(spark, sf_dir, str(tmp_path / "corpus"))
        # monotone survivor funnel
        assert m["n_raw"] >= m["n_quality"] >= m["n_deduped"] >= m["n_clean"] > 0
        assert set(m["packed_sequences"]) <= {"train", "val", "test"}
        assert m["packed_sequences"]["train"] >= 1
        # written dataset: splits disjoint on doc_id, partition pruning works
        out = spark.read.parquet(str(tmp_path / "corpus"))
        assert out.count() == m["n_clean"]
        assert out.select("doc_id").distinct().count() == m["n_clean"]


class TestApproxQuantiles:
    def test_sketch_quantiles_near_exact(self, spark, sf_dir):
        from pulseboard_spark.registry import approx_value_quantiles_q
        from pulseboard_spark.sources.tables import entity_events

        approx = {
            r.type: (r.q50, r.q90, r.q99)
            for r in approx_value_quantiles_q(spark, sf_dir).collect()
        }
        # the sketch returns an actual data value with bounded RANK error
        # (accuracy=100000 → ~n/100000; exact below n=100k, where the
        # oracle check relies on it), not the interpolated value — so the
        # correct check is: the returned value's rank sits within a small
        # neighborhood of the target quantile
        vals = {
            t: sorted(
                r.value
                for r in entity_events(spark, sf_dir)
                .filter(F.col("value").isNotNull() & (F.col("type") == t))
                .select("value")
                .collect()
            )
            for t in approx
        }
        import bisect

        for t, qs in approx.items():
            n = len(vals[t])
            for got, target in zip(qs, (0.5, 0.9, 0.99)):
                rank = bisect.bisect_right(vals[t], got) / n
                assert abs(rank - target) <= 0.01 + 1.0 / n, (t, got, rank, target)


class TestLabelCentroids:
    def test_centroid_matches_numpy(self, spark, sf_dir):
        import numpy as np

        from pulseboard_spark.operators.similarity import label_centroids
        from pulseboard_spark.sources.tables import load_table

        embs = load_table(spark, sf_dir, "embeddings")
        got = {r.label: (r.n_vecs, r.centroid_micro) for r in label_centroids(embs).collect()}
        rows = embs.collect()
        by_label = {}
        for r in rows:
            # mirror the operator's quantization: micro-units, half away from zero
            q = np.array(r.embedding, dtype=np.float64) * 1e6
            by_label.setdefault(r.label, []).append(np.sign(q) * np.floor(np.abs(q) + 0.5))
        for label, vecs in by_label.items():
            n, centroid = got[label]
            assert n == len(vecs)
            want = np.trunc(np.sum(vecs, axis=0) / len(vecs))  # truncating int div
            # truncation vs exact-integer div can differ by at most 1 ulp of
            # the double sum; the operator is exact, the model is close
            assert np.max(np.abs(np.array(centroid, dtype=np.float64) - want)) <= 1.0, label


class TestLabelNoise:
    def test_planted_outlier_is_top_suspect(self, spark):
        from pulseboard_spark.operators.similarity import label_noise_suspects

        # 20 tight vectors around [1,0] + one planted far point
        rows = [(i, [1.0 + 0.001 * i, 0.0], 7) for i in range(20)]
        rows.append((99, [-5.0, 9.0], 7))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
        top = label_noise_suspects(df).orderBy("rnk").collect()
        assert top[0].vec_id == 99 and top[0].rnk == 1
        assert top[0].sq_dist_micro2 > 10 * top[1].sq_dist_micro2


class TestRfm:
    def test_tiles_balanced_and_monotone(self, spark, sf_dir):
        from pulseboard_spark.operators.mlprep import rfm_scores
        from pulseboard_spark.sources.tables import entity_events

        rows = rfm_scores(entity_events(spark, sf_dir)).collect()
        n = len(rows)
        for attr, score in [("last_ms", "r_score"), ("n_events", "f_score"), ("total_value", "m_score")]:
            by_score = {}
            for r in rows:
                by_score.setdefault(getattr(r, score), []).append(getattr(r, attr))
            assert set(by_score) <= {1, 2, 3, 4, 5}
            # ntile balance: bucket sizes differ by at most 1
            sizes = [len(v) for v in by_score.values()]
            assert max(sizes) - min(sizes) <= 1
            # monotone: every value in bucket k <= every value in bucket k+1
            for k in range(1, 5):
                if k in by_score and k + 1 in by_score:
                    assert max(by_score[k]) <= min(by_score[k + 1]), (attr, k)
        assert all(r.rfm == f"{r.r_score}{r.f_score}{r.m_score}" for r in rows)

    def test_distributed_path_matches_window_path(self, spark, sf_dir, monkeypatch):
        """Force the >threshold two-level-rank route and pin it against the
        small-table window route — the size guard must be a pure routing
        decision, never a semantic one."""
        from pulseboard_spark.operators import mlprep
        from pulseboard_spark.sources.tables import entity_events

        ev = entity_events(spark, sf_dir)
        want = {tuple(r) for r in mlprep.rfm_scores(ev).collect()}
        monkeypatch.setattr(mlprep, "MAX_SINGLE_PARTITION_RANK_ROWS", 0)
        got = {tuple(r) for r in mlprep.rfm_scores(ev).collect()}
        assert got == want


class TestBpeTrain:
    def test_matches_sequential_reference(self, spark):
        """5 learned merges must equal a verbatim sequential BPE trainer."""
        import re as _re
        from collections import Counter

        from pulseboard_spark.operators.text import bpe_train

        texts = ["the cat chased the other thermos", "then the cats gathered", "banana bandana"]
        df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
        got = bpe_train(df, n_merges=5)

        words = [list(w) for t in texts for w in _re.findall("[a-z]+", t.lower())]
        want = []
        for _ in range(5):
            cnt = Counter()
            for w in words:
                for x, y in zip(w, w[1:]):
                    cnt[(x, y)] += 1
            if not cnt:
                break
            (a, b), n = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            if n < 2:
                break
            want.append((a, b, n))
            out_words = []
            for w in words:
                out, i = [], 0
                while i < len(w):
                    if i + 1 < len(w) and w[i] == a and w[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(w[i])
                        i += 1
                out_words.append(out)
            words = out_words
        assert got == want and len(got) >= 3


class TestEventTransitions:
    def test_counts_and_ppm(self, spark):
        from pulseboard_spark.operators.timeseries import event_transitions

        rows = [
            # entity u1: a -> b -> a -> c
            ("u1", "a", 1000, 1),
            ("u1", "b", 2000, 2),
            ("u1", "a", 3000, 3),
            ("u1", "c", 4000, 4),
            # entity u2: a -> b  (tie on ts with event 6 — event_id breaks it)
            ("u2", "a", 1000, 5),
            ("u2", "b", 1000, 6),
            # entity u3: single event — no transition
            ("u3", "c", 1000, 7),
        ]
        ev = spark.createDataFrame(
            rows, "entity_id string, type string, ts_ms long, event_id long"
        )
        got = {
            (r.from_type, r.to_type): (r.n, r.n_from, r.p_ppm)
            for r in event_transitions(ev).collect()
        }
        assert got == {
            ("a", "b"): (2, 3, 666666),   # a->b twice of three a-departures
            ("a", "c"): (1, 3, 333333),
            ("b", "a"): (1, 1, 1000000),
        }


class TestMergeComponents:
    """merge_components(prior_labels, nodes, delta_edges) must equal a full
    recompute over prior ∪ delta edges — including bridged components,
    brand-new nodes, and still-isolated nodes."""

    def _check(self, spark, prior_edges, delta_edges, extra_nodes=(), monkeypatch=None):
        """``monkeypatch`` given: the prior labels and the full recompute
        take the distributed route; the merge keeps the default route."""
        from pulseboard_spark.operators import identity
        from pulseboard_spark.operators.identity import merge_components

        def connected_components(nodes, edges):
            if monkeypatch is None:
                return identity.connected_components(nodes, edges)
            with monkeypatch.context() as m:
                m.setattr(identity, "MAX_LOCAL_CC_EDGES", 0)
                return identity.connected_components(nodes, edges)

        all_ids = sorted(
            {x for e in prior_edges + delta_edges for x in e} | set(extra_nodes)
        )
        ndf = spark.createDataFrame([(n,) for n in all_ids], "id string")
        prior_ndf = spark.createDataFrame(
            [(n,) for n in sorted({x for e in prior_edges for x in e} | set(extra_nodes))],
            "id string",
        )
        mk = lambda es: spark.createDataFrame(es, "a string, b string")
        prior = connected_components(prior_ndf, mk(prior_edges))
        got = {
            (r.id, r.component)
            for r in merge_components(prior, ndf, mk(delta_edges)).collect()
        }
        want = {
            (r.id, r.component)
            for r in connected_components(ndf, mk(prior_edges + delta_edges)).collect()
        }
        assert got == want

    def test_bridge_new_nodes_and_isolated(self, spark):
        # delta bridges {a,b} with {c,d}, introduces brand-new {e,f}, and
        # leaves g isolated throughout
        self._check(
            spark,
            prior_edges=[("a", "b"), ("c", "d")],
            delta_edges=[("b", "c"), ("e", "f")],
            extra_nodes=["g"],
        )

    def test_distributed_path_equivalence(self, spark, monkeypatch):
        self._check(
            spark,
            prior_edges=[("a", "b"), ("b", "c"), ("x", "y")],
            delta_edges=[("c", "x"), ("p", "q")],
            extra_nodes=["z"],
            monkeypatch=monkeypatch,
        )

    def _random_graph_trials(self, spark, n_trials):
        """Randomized splits of random sparse graphs: the increment must
        equal the full recompute regardless of which edges arrive late."""
        import random

        rng = random.Random(20260814)
        for trial in range(n_trials):
            n = rng.randint(6, 24)
            ids = [f"n{i:02d}" for i in range(n)]
            m = rng.randint(n // 2, 2 * n)
            edges = sorted(
                {tuple(sorted(rng.sample(ids, 2))) for _ in range(m)}
            )
            rng.shuffle(edges)
            cut = rng.randint(0, len(edges))
            self._check(
                spark,
                prior_edges=edges[:cut],
                delta_edges=edges[cut:],
                extra_nodes=ids,  # include isolated nodes in every trial
            )

    def test_random_graph_smoke(self, spark):
        """Fast pin (default gate): one randomized graph trial; the
        4-trial profile runs in the slow tier (~6 s per trial — each
        trial is a full incremental-vs-recompute Spark comparison)."""
        self._random_graph_trials(spark, 1)

    @pytest.mark.slow
    def test_random_graphs(self, spark):
        self._random_graph_trials(spark, 4)


class TestPagerank:
    @staticmethod
    def _reference(nodes, edges, iters, d=0.85):
        import numpy as np

        idx = {n: i for i, n in enumerate(nodes)}
        n = len(nodes)
        deg = np.zeros(n)
        for a, b in edges:
            deg[idx[a]] += 1
            deg[idx[b]] += 1
        r = np.full(n, 1.0 / n)
        for _ in range(iters):
            inflow = np.zeros(n)
            for a, b in edges:
                inflow[idx[b]] += r[idx[a]] / deg[idx[a]]
                inflow[idx[a]] += r[idx[b]] / deg[idx[b]]
            dangle = r[deg == 0].sum()
            r = (1 - d) / n + d * (inflow + dangle / n)
        return {node: r[idx[node]] for node in nodes}

    def test_matches_dense_power_iteration(self, spark):
        from pulseboard_spark.operators.identity import pagerank

        nodes = ["a", "b", "c", "d", "e", "f"]
        # star centered on a, one far pair (e,f)... plus isolated d (dangling)
        edges = [("a", "b"), ("a", "c"), ("b", "c"), ("e", "f")]
        ndf = spark.createDataFrame([(n,) for n in nodes], "id string")
        edf = spark.createDataFrame(edges, "a string, b string")
        got = {r.id: r.rank for r in pagerank(ndf, edf, iters=12).collect()}
        want = self._reference(nodes, edges, iters=12)
        assert set(got) == set(want)
        for k in want:
            assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])
        assert abs(sum(got.values()) - 1.0) < 1e-9, "ranks must sum to 1"
        # a/b/c tie at the top (symmetric triangle), isolated d sits at
        # the teleport floor — ties compared with the documented ~1e-11
        # decimal-quantization tolerance, not bitwise
        assert got["a"] >= max(got.values()) - 1e-9
        assert got["d"] <= min(got.values()) + 1e-9

    def test_checkpoint_cadence_same_answer(self, spark, monkeypatch):
        from pulseboard_spark.operators import identity
        from pulseboard_spark.operators.identity import pagerank

        ndf = spark.createDataFrame([("a",), ("b",), ("c",)], "id string")
        edf = spark.createDataFrame([("a", "b"), ("b", "c")], "a string, b string")
        every2 = {r.id: r.rank for r in pagerank(ndf, edf, iters=6).collect()}
        monkeypatch.setattr(identity, "PAGERANK_CHECKPOINT_EVERY", 3)
        every3 = {r.id: r.rank for r in pagerank(ndf, edf, iters=6).collect()}
        for k in every2:
            assert abs(every2[k] - every3[k]) < 1e-12


class TestBpeEncode:
    def test_matches_sequential_encoder(self, spark):
        """Corpus encoded with trained merges must match a verbatim
        sequential leftmost-greedy BPE encoder, doc by doc."""
        import re as _re

        from pulseboard_spark.operators.text import bpe_encode, bpe_train

        texts = [
            "the cat chased the other thermos",
            "then the cats gathered",
            "banana bandana",
            "12345 !!!",  # letterless doc must still get a (0,0,0,0) row
        ]
        df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
        merges = [(a, b) for a, b, _ in bpe_train(df, n_merges=5)]
        got = {r.doc_id: (r.n_words, r.n_chars, r.n_bpe_tokens, r.saved_ppm) for r in bpe_encode(df, merges).collect()}

        def enc(word: str) -> list[str]:
            w = list(word)
            for a, b in merges:
                out, i = [], 0
                while i < len(w):
                    if i + 1 < len(w) and w[i] == a and w[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(w[i])
                        i += 1
                w = out
            return w

        want = {}
        for i, t in enumerate(texts):
            words = _re.findall("[a-z]+", t.lower())
            n_chars = sum(len(w) for w in words)
            n_toks = sum(len(enc(w)) for w in words)
            saved = (n_chars - n_toks) * 1000000 // n_chars if n_chars else 0
            want[i] = (len(words), n_chars, n_toks, saved)
        assert got == want
        assert want[3] == (0, 0, 0, 0), "letterless doc row present with zeros"
        assert all(v[2] < v[1] for v in want.values() if v[1]), "merges must compress something"


class TestDriftPsi:
    def test_identical_halves_zero_drift_and_shift_detected(self, spark):
        from pulseboard_spark.operators.mlprep import value_drift_psi

        # type 's': same distribution in both halves → PSI exactly 0
        # type 'd': values shift 10 → 1000 between halves → large PSI
        rows = []
        for i in range(200):
            rows.append(("s", i * 1000, float(i % 7)))
            rows.append(("s", 200_000 + i * 1000, float(i % 7)))
            rows.append(("d", i * 1000, 10.0 + (i % 5)))
            rows.append(("d", 200_000 + i * 1000, 1000.0 + (i % 5)))
        df = spark.createDataFrame(rows, "type string, ts_ms long, value double")
        got = {r.type: r for r in value_drift_psi(df).collect()}
        assert got["s"].psi == 0.0
        assert got["d"].psi > 1.0
        assert got["s"].n_a == got["s"].n_b == 200


class TestHardNegatives:
    def test_negatives_cross_label_and_exhaustive(self, spark, sf_dir):
        from pulseboard_spark.operators.similarity import hard_negatives
        from pulseboard_spark.sources.tables import load_table

        embs = load_table(spark, sf_dir, "embeddings")
        rows = hard_negatives(embs).collect()
        assert rows
        n_labels = embs.select("label").distinct().count()
        assert n_labels > 1
        for r in rows:
            assert r.label != r.neighbor_label
            assert 1 <= r.rank <= 3
        # every vector gets its negatives (other labels exist for all)
        assert len({r.vec_id for r in rows}) == embs.count()

    def test_null_embedding_rows_excluded_at_operator_level(self, spark, sf_dir):
        """Direct operator calls (bypassing the registry's _embs loader)
        must survive NULL-embedding rows: the fuzz found list(None)
        TypeErrors in the numpy kernels.  NULL-embedding / NULL-label rows
        exit, the rest answer as if those rows were absent."""
        from pyspark.sql import Row

        from pulseboard_spark.operators.similarity import hard_negatives
        from pulseboard_spark.sources.tables import load_table

        embs = load_table(spark, sf_dir, "embeddings")
        dim = len(embs.select("embedding").first()[0])
        junk = spark.createDataFrame(
            [
                Row(vec_id=900001, embedding=None, label=1),
                Row(vec_id=900002, embedding=[0.5] * dim, label=None),
            ],
            schema=embs.select("vec_id", "embedding", "label").schema,
        )
        clean = {tuple(r) for r in hard_negatives(embs).collect()}
        with_junk = {
            tuple(r)
            for r in hard_negatives(
                embs.select("vec_id", "embedding", "label").unionByName(junk)
            ).collect()
        }
        assert with_junk == clean

    def test_declared_path_matches_broadcast_twin(self, spark, sf_dir):
        """The declared path (memoized index parts) must equal the
        broadcast-kernel twin's own one-part collect exactly."""
        from pulseboard_spark.operators.similarity import (
            hard_negatives,
            hard_negatives_broadcast,
        )
        from pulseboard_spark.sources.tables import load_table

        embs = load_table(spark, sf_dir, "embeddings")
        want = {tuple(r) for r in hard_negatives_broadcast(embs).collect()}
        got_declared = {tuple(r) for r in hard_negatives(embs).collect()}
        assert got_declared == want and want


class TestBroadcastSizeGuard:
    def _route_and_compare(self, spark, sf_dir, monkeypatch, kernels):
        """Above the broadcast ceiling the exact kernels must never collect
        the whole index to the driver — the index splits into several
        hash-sliced parts of at most the ceiling each (one bounded collect
        per part, NO full-probe cell replication) — and still return the
        exact answer.  ``kernels`` maps a name to (ceiling, kernel).  A
        60-row ceiling makes ~12 parts over the sf0.001 embeddings, so the
        part union plus the global merge window is genuinely exercised.
        Part sizes are recorded at :func:`_index_parts` itself: a memo hit
        on the same index performs no collect, so counting collects would
        miss it."""
        from pulseboard_spark.operators import similarity
        from pulseboard_spark.sources.tables import load_table

        embs = load_table(spark, sf_dir, "embeddings")
        want = {name: {tuple(r) for r in fn(similarity, embs).collect()}
                for name, (_ceiling, fn) in kernels.items()}
        index_parts, sizes = similarity._index_parts, []

        def recording(*a, **kw):
            parts = index_parts(*a, **kw)
            sizes.append([len(p.value[0]) for p in parts])
            return parts

        monkeypatch.setattr(similarity, "_index_parts", recording)
        for name, (ceiling, fn) in kernels.items():
            monkeypatch.setattr(similarity, "MAX_BROADCAST_INDEX_ROWS", ceiling)
            sizes.clear()
            got = {tuple(r) for r in fn(similarity, embs).collect()}
            assert got == want[name], name
            assert sizes and all(len(s) > 1 and max(s) <= ceiling for s in sizes), (name, sizes)

    def test_exact_kernels_route_to_slices_above_ceiling(self, spark, sf_dir, monkeypatch):
        """Fast pin of the slice-routing guard (r10 gate-budget retier):
        the top-k kernel (the declared query path) plus decontamination —
        whose eval side is ~50 rows at sf0.001, so its slicing takes a
        10-row ceiling (the 60-row pin would leave it legitimately one
        part).  The pairs and hard-negative kernels run the same guard in
        the slow tier (test_pairs_and_hard_negatives_route_to_slices)."""
        self._route_and_compare(spark, sf_dir, monkeypatch, {
            "topk": (60, lambda s, e: s.cosine_topk(e, 5)),
            "decontamination": (10, lambda s, e: s.embedding_decontamination(e)),
        })

    @pytest.mark.slow
    def test_pairs_and_hard_negatives_route_to_slices(self, spark, sf_dir, monkeypatch):
        """Slow tier of the slice-routing guard: the similarity-pairs and
        hard-negative kernels (same recorded parts, same exactness
        equality) — fast pin above."""
        self._route_and_compare(spark, sf_dir, monkeypatch, {
            "pairs": (60, lambda s, e: s.cosine_pairs_above(e, 0.35)),
            "hard_negatives": (60, lambda s, e: s.hard_negatives(e)),
        })

    def test_sliced_index_build_takes_fixed_passes(self, spark, sf_dir, monkeypatch):
        """Over the ceiling the parts come from a fixed number of passes
        over the index — not one filtered collect (a full index scan) per
        slice — and each part holds exactly its hash slice.  At a 60-row
        ceiling the sf0.001 embeddings make 12 parts (27 jobs at local[8]
        as one collect per slice); with the guard verdict memoized the
        build runs 4 jobs: the id-hash pass and one local-iterator pass."""
        import math
        import uuid

        from pyspark.sql import functions as F

        from pulseboard_spark import session
        from pulseboard_spark.operators import similarity
        from pulseboard_spark.sources.tables import load_table

        embs = load_table(spark, sf_dir, "embeddings")
        monkeypatch.setattr(similarity, "MAX_BROADCAST_INDEX_ROWS", 60)
        monkeypatch.setattr(session, "_MEMO", {})  # a cold build, not a memo hit
        assert similarity._index_too_big(embs)
        sc = spark.sparkContext
        group = f"index-build:{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            parts = similarity._index_parts(embs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))

        n_parts = max(2, math.ceil(embs.count() / 45))
        want: dict = {}
        for r in embs.select(
            "vec_id", F.pmod(F.xxhash64("vec_id"), F.lit(n_parts)).alias("s")
        ).collect():
            want.setdefault(r.s, set()).add(r.vec_id)
        got = [set(p.value[0].tolist()) for p in parts]
        assert len(parts) > 1 and jobs <= 5, (len(parts), jobs)
        assert got == [want[s] for s in sorted(want)]
        for p in parts:
            ids, M, _norms, _labels = p.value
            assert M.shape[0] == len(ids) and M.shape[1] > 0


class TestSeasonal:
    def test_planted_spike_flagged_against_hod_baseline(self, spark):
        from pulseboard_spark.operators.timeseries import seasonal_deviation

        # 10 days, hourly: steady 5 events at every hour; one planted
        # 100-event spike at day 7, 09:00 — must be anomalous vs the 9am
        # baseline while every other hour stays unflagged
        rows = []
        for day in range(10):
            for hour in range(24):
                base_ms = (day * 24 + hour) * 3_600_000
                n = 100 if (day == 7 and hour == 9) else 5
                rows += [("login", base_ms + i) for i in range(n)]
        df = spark.createDataFrame(rows, "type string, ts_ms long")
        out = seasonal_deviation(df).collect()
        flagged = [(r.hour_ms, r.hod) for r in out if r.is_anomaly]
        assert flagged == [((7 * 24 + 9) * 3_600_000, 9)]
        assert all(r.z == 0.0 for r in out if r.hod != 9)


class TestDocLmScore:
    def test_repeated_text_scores_higher(self, spark):
        """A doc whose bigrams dominate the corpus LM must out-score a doc
        made of hapax bigrams; log-probs are <= 0-ish and finite."""
        import math

        from pulseboard_spark.operators.text import doc_lm_score

        common = "the cat sat on the mat"
        rows = [(i, common) for i in range(9)] + [(9, "zq xv qj wk pf")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r for r in doc_lm_score(df).collect()}
        assert all(math.isfinite(r.lm_logprob_sum) for r in got.values())
        per_bigram_common = got[0].lm_logprob_sum / got[0].n_bigrams
        per_bigram_rare = got[9].lm_logprob_sum / got[9].n_bigrams
        assert per_bigram_common > per_bigram_rare

    def test_token_length_histogram_partitions_corpus(self, spark, sf_dir):
        from pulseboard_spark.operators.text import token_length_histogram
        from pulseboard_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents")
        rows = token_length_histogram(docs).collect()
        assert sum(r.n_docs for r in rows) == docs.count()
        for r in rows:
            assert r.bucket * 64 <= r.min_tokens <= r.max_tokens < (r.bucket + 1) * 64


class TestRuleDsl:
    def test_r1_predicate_from_json_matches_builtin(self, spark, sf_dir, monkeypatch):
        """The JSON dialect must reproduce R1's built-in predicate exactly:
        same fired rows over the enriched metric columns."""
        import json

        from pulseboard_spark.functions.dsl import compile_predicate
        from pulseboard_spark.operators import rules
        from pulseboard_spark.operators.windows import with_trailing_aggs
        from pulseboard_spark.sources.tables import entity_events

        # thresholds loosened identically on both sides so the rule FIRES
        # on this sf's data — equality over an empty set proves nothing
        spec = json.loads("""
        {"all": [
          {"op": ">", "left": "rate_1m", "right": {"*": ["avg_5m", 1.5]}},
          {"op": ">=", "left": "rate_1m", "right": 0.05}
        ]}""")
        ev = entity_events(spark, sf_dir)
        enriched = with_trailing_aggs(ev)
        got = {
            r.event_id
            for r in enriched.filter(compile_predicate(spec)).select("event_id").collect()
        }
        monkeypatch.setattr(rules, "R1_MULTIPLIER", 1.5)
        monkeypatch.setattr(rules, "R1_MIN_RATE", 0.05)
        want = {
            r.event_id
            for r in rules.r1_velocity_eval(ev).filter("fired").select("event_id").collect()
        }
        assert got == want and got

    def test_segments_from_spec_match_defaults(self, spark, sf_dir):
        """JSON segment definitions reproduce the built-in defaults through
        the same membership operator."""
        from pyspark.sql import functions as F

        from pulseboard_spark.functions.dsl import segments_from_spec
        from pulseboard_spark.operators.segments import (
            POWER_USER_THRESHOLD,
            REENGAGE_MS,
            segment_membership,
        )
        from pulseboard_spark.sources.tables import cdp_events

        spec = {
            "power_user": {"op": ">=",
                           "left": {"+": [{"*": ["cnt", 0]}, "cnt"]},  # exercises arithmetic
                           "right": POWER_USER_THRESHOLD},
            "pro_plan": {"op": "==", "left": "plan", "right": {"lit": "pro"}},
            "reengage": {"op": ">", "left": {"-": ["as_of_ms", "last_seen_ms"]},
                         "right": REENGAGE_MS},
        }
        from pulseboard_spark.registry import _evprof

        evprof = _evprof(spark, sf_dir)
        as_of = F.max("ts_ms")
        want = segment_membership(evprof, as_of).collect()
        got = segment_membership(evprof, as_of, segments=segments_from_spec(spec)).collect()
        # pro_plan/reengage identical; power_user differs only via null
        # handling (defaults coalesce cnt) — compare on non-null rows
        w = {r.profile_id: (r.power_user, r.pro_plan, r.reengage) for r in want}
        g = {r.profile_id: (r.power_user, r.pro_plan, r.reengage) for r in got}
        assert set(w) == set(g)
        for pid in w:
            assert g[pid][1:] == w[pid][1:], pid
            if g[pid][0] is not None:
                assert g[pid][0] == w[pid][0], pid


class TestAnnTopk:
    def test_single_bucket_matches_exact(self, spark):
        """Colinear vectors share every hyperplane sign, so they land in
        one bucket — there ann must equal the exact kernel bit for bit."""
        from pulseboard_spark.operators.similarity import ann_topk, cosine_topk

        rows = [(i, [float(i + 1), 2.0 * (i + 1), 0.5 * (i + 1)]) for i in range(12)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = {tuple(r) for r in ann_topk(df, k=4).collect()}
        want = {tuple(r) for r in cosine_topk(df, k=4).collect()}
        assert got == want and got

    def test_structure_at_sf(self, spark, sf_dir):
        from pulseboard_spark.operators.similarity import ann_topk
        from pulseboard_spark.sources.tables import load_table

        out = ann_topk(load_table(spark, sf_dir, "embeddings"), k=5).collect()
        per = {}
        for r in out:
            assert r.vec_id != r.neighbor_id
            per.setdefault(r.vec_id, []).append((r.rank, r.cosine))
        for ranks in per.values():
            ranks.sort()
            assert [x[0] for x in ranks] == list(range(1, len(ranks) + 1))
            cos = [x[1] for x in ranks]
            assert cos == sorted(cos, reverse=True)
            assert len(ranks) <= 5

    def test_multi_table_recall_monotone_and_single_table_unchanged(self, spark, sf_dir):
        """n_tables is the recall knob: (a) n_tables=1 must stay identical
        to the historical single-table output (seed-0 planes untouched);
        (b) the recall harness (tools/probes/ann_recall.py::measure_recall)
        runs end-to-end, and recall@k is deterministically monotone in T —
        a true top-k neighbor surfaced by ANY table survives the merge."""
        import sys as _sys
        from pathlib import Path as _P

        _sys.path.insert(0, str(_P(__file__).resolve().parents[1] / "tools" / "probes"))
        import ann_recall as ar

        from pulseboard_spark.operators.similarity import ann_topk
        from pulseboard_spark.sources.tables import load_table

        embs = load_table(spark, sf_dir, "embeddings")
        single = {tuple(r) for r in ann_topk(embs, k=5, n_planes=6).collect()}
        explicit = {tuple(r) for r in ann_topk(embs, k=5, n_planes=6, n_tables=1).collect()}
        assert single == explicit and single
        # the multi-table merge keeps the single-table column types (rank bigint)
        multi = ann_topk(embs, k=5, n_planes=6, n_tables=3)
        assert multi.schema.simpleString() == ann_topk(embs, k=5, n_planes=6).schema.simpleString()

        rows = ar.measure_recall(embs, k=5, configs=[(6, 1), (6, 3)])
        by_tables = {tables: recall for _p, tables, recall, _w in rows}
        assert by_tables[3] >= by_tables[1]
        assert 0.0 < by_tables[1] <= 1.0 and by_tables[3] <= 1.0


def test_connected_components_ignores_foreign_endpoints(spark, cc_route):
    """Edges touching ids absent from `nodes` neither label nor bridge —
    and BOTH physical paths must agree on that (the induced-subgraph
    contract of the distributed fixpoint)."""
    edges = spark.createDataFrame(
        [("n1", "x"), ("x", "n2"), ("n3", "n4")], "a string, b string"
    )
    nodes = spark.createDataFrame([("n1",), ("n2",), ("n3",), ("n4",)], "id string")
    comp = {
        r["id"]: r["component"]
        for r in connected_components(nodes, edges).collect()
    }
    assert comp == {"n1": "n1", "n2": "n2", "n3": "n3", "n4": "n3"}


def test_connected_components_null_endpoints(spark, cc_route):
    """An edge with a NULL endpoint never equi-joins: it neither labels
    nor bridges, on both routes."""
    edges = spark.createDataFrame(
        [("n1", None), (None, "n2"), ("n1", "n3")], "a string, b string"
    )
    nodes = spark.createDataFrame([("n1",), ("n2",), ("n3",)], "id string")
    comp = {r["id"]: r["component"] for r in connected_components(nodes, edges).collect()}
    assert comp == {"n1": "n1", "n2": "n2", "n3": "n1"}


def test_local_components_take_fixed_jobs(spark, sf_dir, monkeypatch):
    """The identity map's local route collects the distinct id sets once
    and labels them on the driver: with ``cvalid`` cached, at most 3 jobs
    for the sf-dir identity graph, counting the read-back into storage (7
    when the route went through ``connected_components``' stored node ids,
    semi-joined edge probe and broadcast labelling join), one partition,
    and the labels of the distributed route."""
    import uuid

    from pulseboard_spark.operators import identity
    from pulseboard_spark.sources.tables import cdp_events

    cvalid = identity.valid_cdp_events(cdp_events(spark, sf_dir)).cache()
    cvalid.count()
    sc = spark.sparkContext
    group = f"local-cc:{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        local = identity.components_for(cvalid).localCheckpoint()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    monkeypatch.setattr(identity, "MAX_LOCAL_CC_EDGES", 0)
    want = {tuple(r) for r in identity.components_for(cvalid).collect()}
    cvalid.unpersist()
    assert jobs <= 3, jobs
    assert local.rdd.getNumPartitions() == 1
    assert {tuple(r) for r in local.collect()} == want and want


def _components_route(monkeypatch, cvalid, cap):
    """(labels, took the connected_components route) of ``components_for``
    at set cap ``cap``."""
    from pulseboard_spark.operators import identity

    calls, identity_cc = [], identity.connected_components

    def spy(*args, **kwargs):
        calls.append(1)
        return identity_cc(*args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(identity, "MAX_LOCAL_CC_EDGES", cap)
        m.setattr(identity, "connected_components", spy)
        labels = {tuple(r) for r in identity.components_for(cvalid).collect()}
    return labels, bool(calls)


def test_components_for_set_cap_boundary(spark, sf_dir, monkeypatch):
    """The ``limit(cap + 1)`` probe: at a cap equal to the distinct id-set
    count the map is built locally, at one less it goes through
    ``connected_components``; both give the same labels."""
    from pulseboard_spark.operators import identity
    from pulseboard_spark.sources.tables import cdp_events

    cvalid = identity.valid_cdp_events(cdp_events(spark, sf_dir)).cache()
    n_sets = cvalid.select(identity._ids_array()).distinct().count()
    at_cap, routed_at = _components_route(monkeypatch, cvalid, n_sets)
    over_cap, routed_over = _components_route(monkeypatch, cvalid, n_sets - 1)
    cvalid.unpersist()
    assert n_sets > 1
    assert not routed_at and routed_over
    assert at_cap == over_cap and at_cap


@pytest.mark.parametrize("cap", [None, 0], ids=["local", "distributed"])
def test_components_for_empty_input(spark, sf_dir, monkeypatch, cap):
    """No valid event gives an empty map on either route (cap 0 forces
    ``connected_components``' distributed fixpoint), one partition on the
    local route."""
    from pulseboard_spark.operators import identity
    from pulseboard_spark.sources.tables import cdp_events

    if cap is not None:
        monkeypatch.setattr(identity, "MAX_LOCAL_CC_EDGES", cap)
    cvalid = identity.valid_cdp_events(cdp_events(spark, sf_dir)).limit(0)
    comp = identity.components_for(cvalid)
    assert comp.columns == ["id", "component"]
    assert comp.collect() == []
    if cap is None:
        assert comp.rdd.getNumPartitions() == 1


class TestEmbeddingDecon:
    def test_guarded_path_matches_broadcast(self, spark, sf_dir, monkeypatch):
        """Over the ceiling, the eval-side index parts must give the
        one-part answer."""
        from pulseboard_spark.operators import similarity
        from pulseboard_spark.sources.tables import load_table

        embs = load_table(spark, sf_dir, "embeddings")
        want = {tuple(r) for r in similarity.embedding_decontamination(embs).collect()}
        monkeypatch.setattr(similarity, "MAX_BROADCAST_INDEX_ROWS", 5)
        got = {tuple(r) for r in similarity.embedding_decontamination(embs).collect()}
        assert got == want and got

    def test_no_eval_vectors_yields_empty(self, spark):
        """An id space with no eval residues returns zero rows, not a
        crash (empty broadcast index)."""
        from pulseboard_spark.operators.similarity import embedding_decontamination

        rows = [(i, [1.0, float(i)]) for i in range(1, 20, 2)]  # all odd ids
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        assert embedding_decontamination(df).count() == 0


class TestPq:
    """Product quantization: codes match a sequential NumPy reference of
    the same deterministic recipe; ADC+rerank recall is pinned; output is
    bit-stable across runs."""

    @staticmethod
    def _reference_codebooks(ids, M, m, k, iters):
        import hashlib

        import numpy as np

        order = sorted(range(len(ids)), key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]))
        S = M[order[:k]].astype(np.float64)
        d = M.shape[1]
        dsub = d // m
        C = np.stack([S[:, j * dsub : (j + 1) * dsub] for j in range(m)])
        if len(order) < k:
            reps = -(-k // len(order))
            C = np.tile(C, (1, reps, 1))[:, :k, :]
        vid_order = np.argsort(ids)
        for _ in range(iters):
            newC = C.copy()
            for j in range(m):
                X = M[:, j * dsub : (j + 1) * dsub].astype(np.float64)
                D = (X * X).sum(1)[:, None] - 2.0 * X @ C[j].T + (C[j] * C[j]).sum(1)[None, :]
                code = np.argmin(D, axis=1)
                for c in np.unique(code):
                    members = vid_order[code[vid_order] == c]
                    newC[j][c] = X[members].mean(axis=0)
            C = newC
        return C

    def test_codes_match_reference(self, spark, sf_dir, monkeypatch):
        import numpy as np

        from pulseboard_spark.operators import similarity as S
        from pulseboard_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        rows = emb.select("vec_id", "embedding").collect()
        ids = np.array([r[0] for r in rows], dtype=np.int64)
        M = np.array([list(r[1]) for r in rows], dtype=np.float64)
        m, k, iters = 4, 8, 2
        monkeypatch.setattr(S, "PQ_M", m)
        monkeypatch.setattr(S, "PQ_K", k)
        C = S.pq_train_codebooks(emb)
        Cref = self._reference_codebooks(ids, M, m, k, iters)
        assert C.shape == Cref.shape
        assert np.allclose(C, Cref, atol=1e-12), np.abs(C - Cref).max()
        # distributed assignment == reference argmin over the same books
        got = {r.vec_id: r.codes for r in S.pq_assign_codes(emb, C).collect()}
        dsub = M.shape[1] // m
        for i, vid in enumerate(ids):
            want = [
                int(
                    np.argmin(
                        ((M[i, j * dsub : (j + 1) * dsub] - C[j]) ** 2).sum(axis=1)
                    )
                )
                for j in range(m)
            ]
            assert list(got[vid]) == want, vid

    def test_adc_recall_and_determinism(self, spark, sf_dir):
        import numpy as np

        from pulseboard_spark.operators import similarity as S
        from pulseboard_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        rows = emb.select("vec_id", "embedding").collect()
        ids = np.array([r[0] for r in rows], dtype=np.int64)
        M = np.array([list(r[1]) for r in rows], dtype=np.float64)
        C = S.pq_train_codebooks(emb)
        adc = S.pq_topk(emb, topk=10, C=C).toPandas()
        rr = S.pq_topk_rerank(emb, C=C).toPandas()
        rec_adc, rec_rr, top1 = [], [], []
        for qi in np.where(ids % 10 == 0)[0]:
            d = ((M - M[qi]) ** 2).sum(axis=1)
            d[qi] = np.inf
            exact = ids[np.argsort(d)[:10]]
            a = set(adc[adc.vec_id == ids[qi]].neighbor_id)
            r = set(rr[rr.vec_id == ids[qi]].neighbor_id)
            rec_adc.append(len(set(exact) & a) / 10)
            rec_rr.append(len(set(exact) & r) / 10)
            top1.append(1.0 if exact[0] in r else 0.0)
        # measured at sf0.001: adc .512 / rerank .938 / top1 1.0 — pinned
        # with slack for other scale fixtures
        assert np.mean(rec_adc) >= 0.35, np.mean(rec_adc)
        assert np.mean(rec_rr) >= 0.75, np.mean(rec_rr)
        assert np.mean(rec_rr) >= np.mean(rec_adc) - 1e-9, "re-rank must not hurt recall"
        assert np.mean(top1) >= 0.85, np.mean(top1)
        # rank column: each query has exactly ranks 1..10
        g = rr.groupby("vec_id")["rank"].apply(lambda s: sorted(s) == list(range(1, 11)))
        assert g.all()
        # bit-stable across runs (fresh plans, same codebooks)
        rr2 = S.pq_topk_rerank(emb, C=C).toPandas()
        a = rr.sort_values(["vec_id", "rank"]).reset_index(drop=True)
        b = rr2.sort_values(["vec_id", "rank"]).reset_index(drop=True)
        assert a.equals(b)

    def test_query_slice_guard(self, spark, sf_dir, monkeypatch):
        import pytest as _pytest

        from pulseboard_spark.operators import similarity as S
        from pulseboard_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        for name, value in (("PQ_M", 4), ("PQ_K", 8), ("PQ_ITERS", 0)):
            monkeypatch.setattr(S, name, value)
        C = S.pq_train_codebooks(emb)
        monkeypatch.setattr(S, "MAX_BROADCAST_INDEX_ROWS", 3)
        with _pytest.raises(ValueError, match="broadcast ceiling"):
            S.pq_topk(emb, topk=5, C=C)


class TestHllRollup:
    def test_daily_sketches_merge_to_total(self, spark, sf_dir):
        from pulseboard_spark.operators.sketches import hll_daily_user_rollup
        from pulseboard_spark.sources.tables import entity_events

        ev = entity_events(spark, sf_dir)
        got = {r.day: (r.est_users, r.n_events) for r in hll_daily_user_rollup(ev).collect()}
        assert "ALL" in got
        import pyspark.sql.functions as F

        exact_days = {
            r.day: (r.u, r.n)
            for r in ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .agg(F.count_distinct("entity_id").alias("u"), F.count(F.lit(1)).alias("n"))
            .collect()
        }
        exact_total = ev.select("entity_id").distinct().count()
        # n_events is exact everywhere; estimates within 5% (lgConfigK=12
        # => ~2.5% RSE)
        assert set(got) == set(exact_days) | {"ALL"}
        for day, (u, n) in exact_days.items():
            assert got[day][1] == n
            assert abs(got[day][0] - u) <= max(0.05 * u, 2), (day, got[day][0], u)
        assert got["ALL"][1] == sum(n for _, n in exact_days.values())
        assert abs(got["ALL"][0] - exact_total) <= max(0.05 * exact_total, 2)
        # the union row must come from sketch merges, not a second scan:
        # deterministic across runs (HLL agg is order-insensitive)
        again = {r.day: r.est_users for r in hll_daily_user_rollup(ev).collect()}
        assert {d: e for d, (e, _) in got.items()} == again


class TestPca:
    def test_spectrum_matches_numpy(self, spark, sf_dir):
        import numpy as np

        from pulseboard_spark.operators.similarity import embedding_pca
        from pulseboard_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        got = embedding_pca(emb).orderBy("component").collect()
        M = np.array([list(r[0]) for r in emb.select("embedding").collect()], dtype=np.float64)
        cov = np.cov(M, rowvar=False, bias=True)
        ref = np.linalg.eigvalsh(cov)[::-1]
        assert len(got) == 8
        for r in got:
            # partial-sum order differs from the serial reference — agree
            # to float-accumulation tolerance, not bit-exactness
            assert abs(r.eigenvalue - ref[r.component]) < 1e-8 * max(1.0, abs(ref[r.component])), (
                r.component, r.eigenvalue, ref[r.component])
        # explained shares: descending eigenvalues, cumulative monotone, <= 100%
        bps = [r.explained_bp for r in got]
        cums = [r.cum_explained_bp for r in got]
        assert bps == sorted(bps, reverse=True)
        assert cums == sorted(cums) and cums[-1] <= 10000
        # deterministic across runs
        again = embedding_pca(emb).orderBy("component").collect()
        assert [(r.component, r.eigenvalue) for r in got] == [
            (r.component, r.eigenvalue) for r in again
        ]


class TestDocRepetition:
    def test_gopher_signals(self, spark):
        from pulseboard_spark.operators.corpus import doc_repetition

        # doc 0: 10-token line repeated 3x (30 tokens = 3 identical lines);
        # doc 1: 20 distinct tokens (2 distinct lines); doc 2: one token
        line = "a b c d e f g h i j"
        texts = [
            " ".join([line] * 3),
            "k l m n o p q r s t u v w x y z aa bb cc dd",
            "solo",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = {r.doc_id: r for r in doc_repetition(df).collect()}
        assert got[0].n_lines == 3 and got[0].n_dup_lines == 2
        assert got[0].dup_line_ppm == 666666  # 2/3
        assert got[0].dup_line_char_ppm == 666666
        # 29 bigram instances, "j a" appears 2x, every in-line bigram 3x
        assert got[0].n_bigrams == 29 and got[0].top_bigram_n == 3
        assert got[1].n_dup_lines == 0 and got[1].top_bigram_n == 1
        assert got[2].n_lines == 1 and got[2].n_bigrams == 0
        assert got[2].top_bigram_ppm == 0

    def test_repeated_bigram_dominates(self, spark):
        from pulseboard_spark.operators.corpus import doc_repetition

        df = spark.createDataFrame(
            [(0, "spam ham " * 50)], "doc_id long, text string"
        )
        row = doc_repetition(df).collect()[0]
        # 100 tokens -> 99 bigrams; "spam ham" 50, "ham spam" 49
        assert row.n_bigrams == 99 and row.top_bigram_n == 50
        assert row.top_bigram_ppm == 50 * 1_000_000 // 99


class TestSplitLeakage:
    def test_cross_split_pairs_classed(self, spark):
        from pulseboard_spark.operators.dedup import split_leakage

        docs = spark.createDataFrame(
            [(i, "x") for i in range(6)], "doc_id long, text string"
        )
        splits = spark.createDataFrame(
            [(0, "train"), (1, "test"), (2, "train"), (3, "train"),
             (4, "val"), (5, "test")],
            "doc_id long, split string",
        )
        # verified pairs: (0,1) train-test, (2,3) train-train, (4,5) test-val
        pairs = spark.createDataFrame(
            [(0, 1, 9, 10), (2, 3, 9, 10), (4, 5, 9, 10)],
            "doc_a long, doc_b long, n_common long, n_union long",
        )
        got = {
            (r.split_a, r.split_b): r
            for r in split_leakage(docs, splits, pairs=pairs).collect()
        }
        assert got[("test", "train")].n_pairs == 1
        assert got[("test", "train")].is_cross_split
        assert got[("train", "train")].n_pairs == 1
        assert not got[("train", "train")].is_cross_split
        assert got[("test", "val")].n_leaky_docs == 2

    def test_below_threshold_pairs_ignored(self, spark):
        from pulseboard_spark.operators.dedup import split_leakage

        docs = spark.createDataFrame([(0, "x"), (1, "x")], "doc_id long, text string")
        splits = spark.createDataFrame(
            [(0, "train"), (1, "test")], "doc_id long, split string"
        )
        pairs = spark.createDataFrame(
            [(0, 1, 1, 10)], "doc_a long, doc_b long, n_common long, n_union long"
        )  # jaccard 0.1 < 0.8 threshold
        assert split_leakage(docs, splits, pairs=pairs).count() == 0


class TestDocEntropy:
    def test_uniform_and_degenerate(self, spark):
        import math

        from pulseboard_spark.operators.text import doc_entropy

        df = spark.createDataFrame(
            [(0, "a b c d"), (1, "w w w w"), (2, "x x y y")],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in doc_entropy(df).collect()}
        assert abs(got[0].token_entropy - math.log(4)) < 1e-9
        assert got[0].ttr_ppm == 1_000_000
        assert got[1].token_entropy == 0.0 and got[1].n_types == 1
        assert got[1].ttr_ppm == 250_000
        assert abs(got[2].token_entropy - math.log(2)) < 1e-9


class TestSourceLengthBands:
    def test_discrete_quantiles(self, spark):
        from pulseboard_spark.operators.corpus import source_length_bands

        rows = [(i, "t", "en", "web", l) for i, l in enumerate(range(10, 110, 10))]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        row = source_length_bands(df).collect()[0]
        assert row.n_docs == 10 and row.total_chars == 550
        # lower-discrete over 10..100: p10 -> cum*10>=tot -> first value
        assert row.p10_chars == 10 and row.p50_chars == 50 and row.p90_chars == 90


class TestEdgeSupport:
    def test_triangle_vs_bridge(self, spark):
        from pulseboard_spark.operators.identity import edge_support

        # one event links three ids pairwise (a triangle); a second event
        # shares one id and adds a single corroborating-free bridge edge
        cvalid = spark.createDataFrame(
            [
                ("e1", 1, "user:u1", "anon:a1", "email:e1"),
                ("e2", 2, "user:u9", "anon:a1", None),
            ],
            "event_id string, ts_us long, nuser string, nanon string, nemail string",
        )
        got = {(r.a, r.b): r for r in edge_support(cvalid).collect()}
        # e1 makes triangle {user:u1, anon:a1, email:e1}; e2 adds bridge
        # (anon:a1, user:u9)
        assert got[("anon:a1", "user:u1")].support == 1
        assert got[("anon:a1", "email:e1")].support == 1
        assert got[("email:e1", "user:u1")].support == 1
        assert got[("anon:a1", "user:u9")].support == 0
        assert got[("anon:a1", "user:u9")].is_bridge


class TestWeeklySeasonality:
    def test_bucketing_and_shares(self, spark):
        from pulseboard_spark.operators.timeseries import weekly_seasonality

        h = 3_600_000
        rows = [
            ("e1", "click", 0 * h),       # hour_of_week 0
            ("e2", "click", 0 * h + 10),  # still 0
            ("e3", "click", 167 * h),     # 167
            ("e4", "click", 168 * h),     # wraps to 0
        ]
        df = spark.createDataFrame(rows, "event_id string, type string, ts_ms long")
        got = {r.hour_of_week: r for r in weekly_seasonality(df).collect()}
        assert got[0].n_events == 3 and got[167].n_events == 1
        assert got[0].share_ppm == 750_000 and got[167].share_ppm == 250_000


class TestEmbeddingDimStats:
    def test_matches_numpy(self, spark):
        import numpy as np

        from pulseboard_spark.operators.similarity import embedding_dim_stats

        rng = np.random.default_rng(7)
        vecs = rng.normal(size=(40, 4)).astype("float32")
        df = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>",
        )
        got = {r.dim: r for r in embedding_dim_stats(df).collect()}
        micro = np.round(vecs.astype("float64") * 1e6).astype("int64")
        for d in range(4):
            col = micro[:, d]
            n = len(col)
            s = int(col.sum())
            trunc_mean = s // n if s >= 0 else -((-s) // n)  # div truncates
            assert got[d].n == n
            assert got[d].mean_micro == trunc_mean
            var = (n * int((col.astype(object) ** 2).sum()) - s * s) // (n * n)
            assert got[d].var_micro2 == var
            assert got[d].min_micro == col.min() and got[d].max_micro == col.max()

    def test_dead_dimension_zero_variance(self, spark):
        from pulseboard_spark.operators.similarity import embedding_dim_stats

        df = spark.createDataFrame(
            [(i, [0.5, float(i)]) for i in range(5)],
            "vec_id long, embedding array<float>",
        )
        got = {r.dim: r for r in embedding_dim_stats(df).collect()}
        assert got[0].var_micro2 == 0 and got[0].mean_micro == 500_000
        assert got[1].var_micro2 > 0


class TestLabelBalance:
    def test_weights_inverse_frequency(self, spark):
        from pulseboard_spark.operators.mlprep import label_balance

        df = spark.createDataFrame(
            [(i, [0.0], 0 if i < 8 else 1) for i in range(10)],
            "vec_id long, embedding array<float>, label int",
        )
        got = {r.label: r for r in label_balance(df).collect()}
        assert got[0].n == 8 and got[1].n == 2
        assert got[0].share_ppm == 800_000
        # balanced weights: tot/(k*n) -> 10/(2*8), 10/(2*2)
        assert got[0].weight_ppm == 625_000 and got[1].weight_ppm == 2_500_000


class TestBurstWindows:
    def test_spike_after_quiet_day(self, spark):
        from pulseboard_spark.operators.timeseries import burst_windows

        h = 3_600_000
        rows = []
        eid = 0
        # hours 0..23: 1 event each; hour 24: 4 events (4x the trailing mean)
        for hr in range(24):
            rows.append((f"e{(eid := eid + 1)}", "click", hr * h))
        for _ in range(4):
            rows.append((f"e{(eid := eid + 1)}", "click", 24 * h))
        df = spark.createDataFrame(rows, "event_id string, type string, ts_ms long")
        got = {r.hour_idx: r for r in burst_windows(df).collect()}
        assert got[24].prev24_sum == 24 and got[24].n_events == 4
        assert got[24].is_burst  # warm (24 >= 0+24) and 4*24 >= 2*24
        assert not got[23].is_burst  # 1*24 < 2*23
        assert not got[0].is_burst  # empty window never fires
        # cold-start guard: steady traffic during warmup must NOT flag —
        # hour h<=12 of constant-rate history has prev24 = h, so without
        # the first_hour+24 warmup every early hour would fire
        assert not any(got[h].is_burst for h in range(1, 24))


class TestTransitionEntropy:
    def test_deterministic_vs_uniform(self, spark):
        import math

        from pulseboard_spark.operators.timeseries import transition_entropy

        # entity 1: a->b always (deterministic); entity 2: a->b, a->c (uniform over 2)
        rows = [
            ("e1", "u1", "a", 1), ("e2", "u1", "b", 2), ("e3", "u1", "a", 3),
            ("e4", "u1", "b", 4),
            ("e5", "u2", "a", 1), ("e6", "u2", "b", 2),
            ("e7", "u2", "a", 3), ("e8", "u2", "c", 4),
        ]
        df = spark.createDataFrame(
            rows, "event_id string, entity_id string, type string, ts_ms long"
        )
        got = {r.from_type: r for r in transition_entropy(df).collect()}
        # from 'a': 3x ->b, 1x ->c  => H = 0.75 ln(4/3) + 0.25 ln 4
        want = 0.75 * math.log(4 / 3) + 0.25 * math.log(4)
        assert abs(got["a"].entropy - want) < 1e-9
        assert got["a"].n_transitions == 4 and got["a"].n_successors == 2
        # from 'b': b->a twice, b->a... b appears before a: u1 b(2)->a(3), u2 b(2)->a(3)
        assert got["b"].entropy == 0.0 and got["b"].n_successors == 1


class TestValueAutocorr:
    def test_alternating_and_trending(self, spark):
        from pulseboard_spark.operators.timeseries import value_autocorr

        h = 3_600_000
        rows = []
        # type 'alt': values alternate 0,10,0,10... -> strong negative lag-1
        for i in range(20):
            rows.append((f"a{i}", "u", "alt", i * h, float(0 if i % 2 == 0 else 10)))
        # type 'ramp': monotone ramp -> strong positive lag-1
        for i in range(20):
            rows.append((f"r{i}", "u", "ramp", i * h, float(i)))
        df = spark.createDataFrame(
            rows, "event_id string, entity_id string, type string, ts_ms long, value double"
        )
        got = {r.type: r for r in value_autocorr(df).collect()}
        assert got["alt"].autocorr_ppm < -900_000
        # finite-ramp lag-1 autocorr under this normalization is exactly
        # 1 - 3/(n+1)... = 0.85 for n=20 — deterministic, pin it
        assert got["ramp"].autocorr_ppm == 850_000
        assert got["alt"].n_hours == 20


class TestOrderGapBands:
    def test_discrete_gap_quantiles(self, spark):
        import datetime

        from pulseboard_spark.operators.relational import order_gap_bands

        base = datetime.datetime(2024, 1, 1)
        orders = spark.createDataFrame(
            [(k, 1, base + datetime.timedelta(days=d)) for k, d in
             [(1, 0), (2, 10), (3, 20), (4, 50)]],
            "o_orderkey long, o_custkey long, o_orderdate timestamp",
        )
        customer = spark.createDataFrame(
            [(1, "BUILDING")], "c_custkey long, c_mktsegment string"
        )
        row = order_gap_bands(orders, customer).collect()[0]
        # gaps: 10, 10, 30
        assert row.n_gaps == 3
        assert row.p50_gap_days == 10 and row.max_gap_days == 30


class TestSupplierConcentration:
    def test_monopoly_vs_split(self, spark):
        from pulseboard_spark.operators.relational import supplier_concentration

        lineitem = spark.createDataFrame(
            [(1, 1, 100.0, 0.0), (2, 2, 50.0, 0.0), (3, 3, 50.0, 0.0)],
            "l_orderkey long, l_suppkey long, l_extendedprice double, l_discount double",
        )
        supplier = spark.createDataFrame(
            [(1, 10), (2, 20), (3, 20)], "s_suppkey long, s_nationkey int"
        )
        nation = spark.createDataFrame(
            [(10, "MONO"), (20, "DUO")], "n_nationkey int, n_name string"
        )
        got = {r.n_name: r for r in
               supplier_concentration(lineitem, supplier, nation).collect()}
        assert got["MONO"].hhi_bp == 10_000 and got["MONO"].top_share_bp == 10_000
        assert got["DUO"].hhi_bp == 5_000 and got["DUO"].top_share_bp == 5_000
        assert got["DUO"].n_suppliers == 2


class TestOpenOrdersTimeline:
    def test_backlog_sweep(self, spark):
        import datetime

        from pulseboard_spark.operators.relational import open_orders_timeline

        d0 = datetime.datetime(2024, 1, 1)

        def d(n):
            return d0 + datetime.timedelta(days=n)

        orders = spark.createDataFrame(
            [(1, d(0)), (2, d(1)), (3, d(2))],
            "o_orderkey long, o_orderdate timestamp",
        )
        # order 1 ships day 3; order 2 ships day 1 (same day); order 3 has
        # no lineitems -> closes its open day
        lineitem = spark.createDataFrame(
            [(1, d(3)), (1, d(2)), (2, d(1))],
            "l_orderkey long, l_shipdate timestamp",
        )
        got = {r.day: r for r in open_orders_timeline(orders, lineitem).collect()}
        day0 = int(d0.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000) // 86_400_000
        assert got[day0].n_open == 1          # order 1 open
        assert got[day0 + 1].n_open == 2      # orders 1,2 open
        assert got[day0 + 2].n_open == 2      # order 2 closed after day1; 1,3 open
        assert got[day0 + 3].n_open == 1      # order 3 closed; order 1 still open
        assert got[day0 + 4].n_open == 0      # everything shipped


class TestPackEfficiency:
    @pytest.fixture(autouse=True)
    def _budget_10(self, monkeypatch):
        from pulseboard_spark.operators import corpus

        monkeypatch.setattr(corpus, "PACK_BUDGET", 10)

    def test_fill_and_spanning(self, spark):
        from pulseboard_spark.operators.corpus import pack_efficiency

        # budget 10: doc0 = tokens 0-5, doc1 = 6-11 (spans windows 0->1),
        # doc2 = 12-19 (fits window 1) => 2 exactly-full windows
        texts = ["a b c d e f", "g h i j k l", "m n o p q r s t"]
        df = spark.createDataFrame(
            [(i, t, "web") for i, t in enumerate(texts)],
            "doc_id long, text string, source string",
        )
        row = pack_efficiency(df).collect()[0]
        assert row.n_docs == 3 and row.n_tokens == 20
        assert row.n_windows == 2  # 20 tokens exactly fill 2 ten-token windows
        assert row.fill_ppm == 1_000_000
        assert row.n_spanning_docs == 1

    def test_padding_shows_in_fill(self, spark):
        from pulseboard_spark.operators.corpus import pack_efficiency

        df = spark.createDataFrame(
            [(0, "a b c", "web")], "doc_id long, text string, source string"
        )
        row = pack_efficiency(df).collect()[0]
        assert row.n_windows == 1 and row.fill_ppm == 300_000


class TestRetentionCurve:
    def test_triangle_eligibility(self, spark):
        from pulseboard_spark.operators.sessions import retention_curve

        wk = 604_800_000
        rows = [
            # cohort week 0: u1,u2 active wk0; u1 returns wk1
            ("e1", "u1", 0), ("e2", "u2", 0), ("e3", "u1", 1 * wk),
            # cohort week 1: u3 active wk1 only — horizon is week 1, so
            # cohort 1 is NOT eligible for offset 1
            ("e4", "u3", 1 * wk),
        ]
        df = spark.createDataFrame(rows, "event_id string, entity_id string, ts_ms long")
        got = {r.week_offset: r for r in retention_curve(df).collect()}
        assert got[0].n_eligible == 3 and got[0].retention_ppm == 1_000_000
        # offset 1: only cohort 0 eligible (base 2), 1 returned
        assert got[1].n_cohorts == 1
        assert got[1].n_eligible == 2 and got[1].retention_ppm == 500_000

    def test_zero_active_cohort_stays_in_denominator(self, spark):
        """An ELIGIBLE cohort with no actives at an offset has no matrix
        row — it must still count in the denominator (the inflate-the-
        curve bug class: filtering matrix rows silently drops fully
        churned cohorts)."""
        from pulseboard_spark.operators.sessions import retention_curve

        wk = 604_800_000
        rows = [
            ("e1", "u1", 0),          # cohort 0, returns week 2 only
            ("e2", "u1", 2 * wk),
            ("e3", "u3", 1 * wk),     # cohort 1, never returns
        ]
        df = spark.createDataFrame(rows, "event_id string, entity_id string, ts_ms long")
        got = {r.week_offset: r for r in retention_curve(df).collect()}
        # offset 1: cohorts 0 AND 1 both eligible (horizon is week 2),
        # neither has an active -> 0 ppm over base 2, not a dropped row
        assert got[1].n_cohorts == 2
        assert got[1].n_eligible == 2 and got[1].n_active == 0
        assert got[1].retention_ppm == 0
        # offset 2: only cohort 0 eligible; u1 returned
        assert got[2].n_eligible == 1 and got[2].retention_ppm == 1_000_000


class TestClusterSizeHistogram:
    def test_sizes_partition_corpus(self, spark):
        from pulseboard_spark.operators.dedup import cluster_size_histogram

        texts = {
            0: "alpha beta gamma delta epsilon zeta eta theta",
            1: "alpha beta gamma delta epsilon zeta eta theta",  # dup of 0
            2: "completely different text with other words entirely here",
            3: "unrelated third document body nothing shared with others",
        }
        df = spark.createDataFrame(
            [(i, t) for i, t in texts.items()], "doc_id long, text string"
        )
        got = {r.cluster_size: r for r in cluster_size_histogram(df).collect()}
        assert got[2].n_clusters == 1 and got[2].n_docs == 2
        assert got[1].n_clusters == 2 and got[1].n_docs == 2
        assert sum(r.n_docs for r in got.values()) == 4


class TestContainmentPairs:
    def test_excerpt_detected_symmetric_dedup_misses_it(self, spark):
        from pulseboard_spark.operators.dedup import (
            containment_pairs,
            minhash_near_dups,
            ngram_jaccard_dedup,
        )

        core = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        # container stays ~1.75x the excerpt: big enough to push Jaccard
        # under the symmetric threshold, small enough that the shared
        # shingles still own some MinHash band (the docstring's candidate
        # caveat: a 100x container needs the bottom-k sketch extension)
        filler = "uno dos tres quatro cinco seis"
        df = spark.createDataFrame(
            [
                (0, core),                      # the excerpt
                (1, core + " " + filler),       # container: excerpt + bulk
                (2, "totally different content body here nothing shared at all"),
            ],
            "doc_id long, text string",
        )
        pairs = minhash_near_dups(df).localCheckpoint()
        flagged = [
            r for r in containment_pairs(df, pairs=pairs).collect() if r.is_partial_dup
        ]
        assert len(flagged) == 1
        row = flagged[0]
        assert row.contained_doc_id == 0 and row.container_doc_id == 1
        assert row.containment_ppm >= 900_000
        assert row.jaccard_ppm < 800_000
        # the symmetric near-dup decision misses exactly this pair
        sym = ngram_jaccard_dedup(df, pairs=pairs).collect()
        assert not any({r.doc_a, r.doc_b} == {0, 1} for r in sym)

    def test_true_near_dups_reported_unflagged(self, spark):
        from pulseboard_spark.operators.dedup import containment_pairs

        text = "one two three four five six seven eight nine ten eleven twelve"
        df = spark.createDataFrame(
            [(0, text), (1, text)], "doc_id long, text string"
        )
        # identical docs: containment 100% but jaccard 100% too — the
        # symmetric path owns them; the audit reports the pair unflagged
        got = containment_pairs(df).collect()
        assert len(got) == 1
        assert got[0].containment_ppm == 1_000_000
        assert not got[0].is_partial_dup


class TestMixturePlan:
    @staticmethod
    def _plan(monkeypatch, df, target_tokens, max_epochs):
        from pulseboard_spark.operators import corpus

        monkeypatch.setattr(corpus, "MIXTURE_TARGET_TOKENS", target_tokens)
        monkeypatch.setattr(corpus, "MIXTURE_MAX_EPOCHS", max_epochs)
        return corpus.mixture_plan(df).collect()

    def test_cap_binds_and_leftover_redistributes(self, spark, monkeypatch):
        # srcA has 2 tokens -> cap 2*2=4; srcB/srcC have plenty.
        df = spark.createDataFrame(
            [
                (0, "aa bb", "srcA"),
                (1, " ".join(["w%d" % i for i in range(50)]), "srcB"),
                (2, " ".join(["v%d" % i for i in range(50)]), "srcC"),
            ],
            "doc_id long, text string, source string",
        )
        got = {
            r.source: r
            for r in self._plan(monkeypatch, df, 60, 2)
        }
        # fair share = 60 div 3 = 20; srcA capped at 4, freeing 16,
        # split 8 apiece to the open sources
        assert got["srcA"].fair_share == 20
        assert got["srcA"].alloc_tokens == 4
        assert got["srcA"].epochs_ppm == 2_000_000
        assert got["srcB"].alloc_tokens == 28
        assert got["srcC"].alloc_tokens == 28
        total = sum(r.alloc_tokens for r in got.values())
        assert total == 60  # fully allocated after one round here

    def test_uncapped_is_exact_fair_split(self, spark, monkeypatch):
        df = spark.createDataFrame(
            [
                (0, "a b c d e", "s1"),
                (1, "f g h i j", "s2"),
            ],
            "doc_id long, text string, source string",
        )
        got = {
            r.source: r
            for r in self._plan(monkeypatch, df, 10, 4)
        }
        for s in ("s1", "s2"):
            assert got[s].alloc_tokens == 5
            assert got[s].epochs_ppm == 1_000_000


class TestQualityCalibration:
    def test_deciles_partition_corpus_and_rates_exact(self, spark, sf_dir):
        from pulseboard_spark.operators.text import quality_calibration
        from pulseboard_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents")
        rows = quality_calibration(docs).collect()
        assert sum(r.n_docs for r in rows) == docs.count()
        for r in rows:
            assert 0 <= r.score_decile <= 9
            assert 0 <= r.n_pass <= r.n_docs
            assert r.pass_rate_ppm == (r.n_pass * 1_000_000) // r.n_docs


class TestContrastivePairs:
    def test_labels_partition_and_no_neardup_leaks_into_neg(self, spark, sf_dir):
        from pulseboard_spark.operators.dedup import minhash_near_dups
        from pulseboard_spark.operators.mlprep import contrastive_pairs
        from pulseboard_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents")
        graph = minhash_near_dups(docs).localCheckpoint()
        got = contrastive_pairs(docs, pairs=graph).collect()
        assert got, "corpus should yield at least some pairs"
        cand = {(r.doc_a, r.doc_b) for r in graph.select("doc_a", "doc_b").collect()}
        for r in got:
            assert r.doc_a < r.doc_b
            if r.label == "neg":
                assert (r.doc_a, r.doc_b) not in cand
            else:
                assert r.label == "pos"
                assert (r.doc_a, r.doc_b) in cand

    def test_paraphrase_band_bounds_positives(self, spark, sf_dir):
        from pyspark.sql import functions as F
        from pulseboard_spark.operators.dedup import minhash_near_dups
        from pulseboard_spark.operators.mlprep import contrastive_pairs
        from pulseboard_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents")
        graph = minhash_near_dups(docs).localCheckpoint()
        pos = {
            (r.doc_a, r.doc_b)
            for r in contrastive_pairs(docs, pairs=graph).collect()
            if r.label == "pos"
        }
        band = {
            (r.doc_a, r.doc_b)
            for r in graph.filter(
                (F.col("jaccard_ppm") >= 300_000) & (F.col("jaccard_ppm") < 950_000)
            ).collect()
        }
        assert pos == band


class TestCanonicalSessions:
    def test_stitches_devices_one_journey(self, spark):
        from pulseboard_spark.operators.identity import canonical_sessions

        # one canonical profile P seen under two raw identifiers within a
        # 30-min gap: a device-keyed sessionizer would emit two sessions;
        # the canonical view must emit ONE with n_identifiers = 2
        rows = [
            ("e1", 0, "P", "user:u1", None, None),
            ("e2", 5 * 60 * 1000, "P", None, "anon:a1", None),
            ("e3", 10 * 60 * 1000, "P", "user:u1", None, None),
            # a second session after a >30-min gap
            ("e4", 60 * 60 * 1000, "P", None, "anon:a1", None),
        ]
        df = spark.createDataFrame(
            rows,
            "event_id string, ts_ms long, profile_id string,"
            " nuser string, nanon string, nemail string",
        )
        got = sorted(
            canonical_sessions(df).collect(), key=lambda r: r.session_start_ms
        )
        assert len(got) == 2
        first, second = got
        assert first.n_events == 3 and first.n_identifiers == 2
        assert first.duration_ms == 10 * 60 * 1000
        assert second.n_events == 1 and second.n_identifiers == 1
        assert first.session_id == "P#1" and second.session_id == "P#2"


class TestPointInTimeTrait:
    def test_interval_in_force_at_event_time(self, spark):
        from pulseboard_spark.operators.scd import point_in_time_trait

        evprof = spark.createDataFrame(
            [
                ("p1", 50, "ALIAS", "P"),    # before any plan -> NULL
                ("p2", 150, "ALIAS", "P"),   # inside [100, 300) -> free v1
                ("p3", 300, "ALIAS", "P"),   # boundary: new interval opens AT 300
                ("p4", 999, "ALIAS", "P"),   # open interval -> pro v2
                ("p5", 200, "IDENTIFY", "P"),  # non-ALIAS rows never enrich
            ],
            "event_id string, ts_ms long, ctype string, profile_id string",
        )
        history = spark.createDataFrame(
            [
                ("P", "plan", "free", 100, 300, 1),
                ("P", "plan", "pro", 300, None, 2),
                ("P", "country", "se", 0, None, 1),  # other trait ignored
            ],
            "profile_id string, trait string, value string,"
            " valid_from_ms long, valid_to_ms long, version int",
        )
        got = {r.event_id: r for r in point_in_time_trait(evprof, history).collect()}
        assert set(got) == {"p1", "p2", "p3", "p4"}
        assert got["p1"].trait_value is None
        assert got["p2"].trait_value == "free" and got["p2"].version == 1
        assert got["p3"].trait_value == "pro" and got["p3"].version == 2
        assert got["p4"].trait_value == "pro"


class TestPurchaseAttribution:
    @pytest.fixture(autouse=True)
    def _lookback_100ms(self, monkeypatch):
        from pulseboard_spark.operators import sessions

        monkeypatch.setattr(sessions, "ATTRIBUTION_LOOKBACK_MS", 100)

    def test_first_last_touch_within_lookback(self, spark):
        from pulseboard_spark.operators.sessions import purchase_attribution

        rows = [
            # entity A: view(10) -> click(20) -> purchase(30): first=view last=click
            (1, 10, "A", "view", 0.0),
            (2, 20, "A", "click", 0.0),
            (3, 30, "A", "purchase", 9.5),
            # entity A: second purchase at 35 — the FIRST purchase (30) is
            # not a touch; first=view last=click still
            (4, 35, "A", "purchase", 1.0),
            # entity B: touch outside the lookback -> organic NULLs
            (5, 0, "B", "view", 0.0),
            (6, 500, "B", "purchase", 2.0),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts_ms long, entity_id string, type string, value double"
        )
        got = {
            r.event_id: r
            for r in purchase_attribution(df).collect()
        }
        assert set(got) == {3, 4, 6}
        assert got[3].first_touch_type == "view" and got[3].last_touch_type == "click"
        assert got[4].first_touch_type == "view" and got[4].last_touch_type == "click"
        assert got[6].first_touch_type is None and got[6].last_touch_type is None

    def test_timestamp_tie_resolves_by_event_id(self, spark):
        from pulseboard_spark.operators.sessions import purchase_attribution

        rows = [
            (7, 10, "C", "view", 0.0),
            (8, 10, "C", "click", 0.0),  # same ts: higher event_id wins last
            (9, 20, "C", "purchase", 1.0),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts_ms long, entity_id string, type string, value double"
        )
        r = purchase_attribution(df).collect()[0]
        assert r.first_touch_type == "view" and r.last_touch_type == "click"


class TestAttributionReport:
    def test_credit_moves_between_models(self, spark, monkeypatch):
        from pulseboard_spark.operators import sessions
        from pulseboard_spark.operators.sessions import attribution_report

        monkeypatch.setattr(sessions, "ATTRIBUTION_LOOKBACK_MS", 100)
        rows = [
            (1, 10, "A", "view", 0.0),
            (2, 20, "A", "click", 0.0),
            (3, 30, "A", "purchase", 10.0),
            (4, 500, "B", "purchase", 5.0),  # organic
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts_ms long, entity_id string, type string, value double"
        )
        got = {(r.model, r.touch_type): r for r in attribution_report(df).collect()}
        assert got[("first_touch", "view")].n_conversions == 1
        assert got[("first_touch", "view")].total_value == 10.0
        assert got[("last_touch", "click")].total_value == 10.0
        assert got[("first_touch", "organic")].n_conversions == 1
        assert got[("last_touch", "organic")].n_conversions == 1
        # each model fully accounts for every conversion
        for model in ("first_touch", "last_touch"):
            assert sum(r.n_conversions for k, r in got.items() if k[0] == model) == 2


class TestCentroidDistances:
    def test_margin_matrix_matches_hand_computation(self, spark):
        from pulseboard_spark.operators.similarity import centroid_distances

        rows = [
            (1, [1.0, 0.0], 0),
            (2, [1.0, 0.0], 0),
            (3, [0.0, 1.0], 1),
            (4, [0.5, 0.5], 2),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
        got = {(r.label_a, r.label_b): r for r in centroid_distances(df).collect()}
        m = 1_000_000
        assert got[(0, 1)].l2sq_micro2 == m * m + m * m
        assert got[(0, 2)].l2sq_micro2 == (m // 2) ** 2 * 2
        assert got[(1, 2)].l2sq_micro2 == (m // 2) ** 2 * 2
        assert all(r.n_dims == 2 for r in got.values())


class TestIntegrityAudits:
    def test_checksum_flags_dup_and_changed_key(self, spark):
        from pulseboard_spark.operators.integrity import PK_COLUMNS, table_checksums

        tables = {name: None for name, _ in PK_COLUMNS}
        for name, pk in PK_COLUMNS:
            tables[name] = spark.createDataFrame([(1,), (2,), (3,)], f"{pk} long")
        clean = {r.table_name: r for r in table_checksums(tables).collect()}
        assert all(r.n_dup_key_rows == 0 for r in clean.values())
        # duplicate one orders key and swap a customer key: checksum moves
        tables["orders"] = spark.createDataFrame([(1,), (2,), (2,)], "o_orderkey long")
        tables["customer"] = spark.createDataFrame([(1,), (2,), (9,)], "c_custkey long")
        dirty = {r.table_name: r for r in table_checksums(tables).collect()}
        assert dirty["orders"].n_dup_key_rows == 1
        assert dirty["orders"].n_distinct_keys == 2
        assert dirty["customer"].key_checksum != clean["customer"].key_checksum
        assert dirty["region"].key_checksum == clean["region"].key_checksum

    def test_fk_orphans_counts_null_safe(self, spark):
        from pulseboard_spark.operators.integrity import fk_orphans

        tables = {
            "region": spark.createDataFrame([(1,), (2,)], "r_regionkey long"),
            "nation": spark.createDataFrame(
                [(10, 1), (11, 2), (12, 99), (13, None)],
                "n_nationkey long, n_regionkey long",
            ),
            "customer": spark.createDataFrame([(100, 10)], "c_custkey long, c_nationkey long"),
            "supplier": spark.createDataFrame([(200, 12)], "s_suppkey long, s_nationkey long"),
            "orders": spark.createDataFrame([(300, 100)], "o_orderkey long, o_custkey long"),
            "part": spark.createDataFrame([(400,)], "p_partkey long"),
            "lineitem": spark.createDataFrame(
                [(300, 400, 200), (301, 401, 200)],
                "l_orderkey long, l_partkey long, l_suppkey long",
            ),
        }
        got = {r.relation: r for r in fk_orphans(tables).collect()}
        rel = "nation.n_regionkey->region.r_regionkey"
        # 99 is an orphan; the NULL FK is NOT (SQL semantics)
        assert got[rel].n_orphans == 1 and got[rel].n_child_rows == 4
        assert got["lineitem.l_orderkey->orders.o_orderkey"].n_orphans == 1
        assert got["lineitem.l_partkey->part.p_partkey"].n_orphans == 1
        assert got["lineitem.l_suppkey->supplier.s_suppkey"].n_orphans == 0


class TestDupAudit:
    def test_injected_duplicates_measured(self, spark, sf_dir):
        from pulseboard_spark.operators.identity import dup_audit
        from pulseboard_spark.sources.tables import cdp_events

        rows = {r.ctype: r for r in dup_audit(cdp_events(spark, sf_dir)).collect()}
        total = sum(r.n_rows for r in rows.values())
        dups = sum(r.n_dup_rows for r in rows.values())
        # generator injects k%20==0 twice: ~5% of the raw stream, the
        # reference simulator's design rate
        assert 0.02 <= dups / total <= 0.08
        for r in rows.values():
            assert r.n_rows == r.n_distinct_events + r.n_dup_rows
            assert r.dup_rate_ppm == (r.n_dup_rows * 1_000_000) // r.n_rows


class TestProfileEmptyTable:
    def test_empty_table_keeps_one_row_per_column(self, spark):
        from pulseboard_spark.operators.profiling import profile_table

        df = spark.createDataFrame([], "a long, b string, c double")
        got = {r.column_name: r for r in profile_table(df).collect()}
        assert set(got) == {"a", "b", "c"}
        for r in got.values():
            assert (r.n_rows, r.n_nonnull, r.n_distinct) == (0, 0, 0)


class TestCohortLtv:
    def test_cumulative_curve_and_cohorting(self, spark):
        from pulseboard_spark.operators.sessions import cohort_ltv

        wk = 604_800_000
        rows = [
            # user A: first week 0; buys in weeks 0 and 2
            (1, 0, "A", "purchase", 10.0),
            (2, 1 * wk, "A", "view", 0.0),
            (3, 2 * wk, "A", "purchase", 5.0),
            # user B: first week 1 (its own cohort); buys in week 1
            (4, 1 * wk, "B", "purchase", 7.0),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts_ms long, entity_id string, type string, value double"
        )
        got = {(r.cohort_week, r.week_offset): r for r in cohort_ltv(df).collect()}
        assert got[(0, 0)].revenue == 10.0 and got[(0, 0)].cum_revenue == 10.0
        assert got[(0, 1)].revenue == 0.0 and got[(0, 1)].cum_revenue == 10.0
        assert got[(0, 2)].revenue == 5.0 and got[(0, 2)].cum_revenue == 15.0
        assert got[(1, 0)].revenue == 7.0 and got[(1, 0)].cum_revenue == 7.0
        assert got[(0, 0)].n_active == 1 and got[(1, 0)].n_active == 1


class TestDocChunks:
    def test_windows_cover_with_overlap(self, spark):
        from pulseboard_spark.operators.corpus import doc_chunks

        words = " ".join(f"w{i}" for i in range(100))
        df = spark.createDataFrame(
            [(1, words), (2, "short text"), (3, "")],
            "doc_id long, text string",
        )
        got = [
            r for r in doc_chunks(df).collect()
        ]
        by_doc = {}
        for r in got:
            by_doc.setdefault(r.doc_id, []).append(r)
        # 100 tokens, stride 48 -> starts at 0, 48, 96 -> 3 chunks
        d1 = sorted(by_doc[1], key=lambda r: r.chunk_no)
        assert [r.start_token for r in d1] == [0, 48, 96]
        assert [r.n_tokens for r in d1] == [64, 52, 4]
        # neighbouring chunks overlap by chunk-stride = 16 tokens
        assert d1[0].start_token + 64 - d1[1].start_token == 16
        # a 2-token doc yields one short chunk; empty docs yield nothing
        assert len(by_doc[2]) == 1 and by_doc[2][0].n_tokens == 2
        assert 3 not in by_doc
        # hashes are per-content deterministic
        assert len({r.chunk_hash for r in d1}) == 3


class TestZorderLayout:
    def test_morton_key_interleaves_bits(self, spark):
        from pyspark.sql import functions as F
        from pulseboard_spark.sources.layout import zorder_key

        df = spark.createDataFrame(
            [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535)], "a long, b long"
        )
        got = [
            r.z for r in df.select(zorder_key(F.col("a"), F.col("b")).alias("z"))
            .collect()
        ]

        def morton(a, b):
            z = 0
            for i in range(16):
                z |= ((a >> i) & 1) << (2 * i)
                z |= ((b >> i) & 1) << (2 * i + 1)
            return z

        want = [morton(a, b) for a, b in [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535)]]
        assert got == want
        assert want[-1] == (1 << 32) - 1  # full 32-bit key space

    def test_audit_buckets_are_locality_bounded(self, spark, sf_dir):
        from pulseboard_spark.registry import QUERIES

        rows = QUERIES["zorder_layout_audit"](spark, sf_dir).collect()
        assert sum(r.n_events for r in rows) > 0
        # normalization must spread the key space — the un-normalized
        # form degenerated every row into ONE bucket (epoch-hours share
        # their high bits)
        assert len(rows) > 16
        span = max(r.max_hour for r in rows) - min(r.min_hour for r in rows)
        for r in rows:
            assert 0 <= r.z_bucket < 64
            assert r.min_hour <= r.max_hour
        # 2-D locality: most buckets confine the reader to well under the
        # full time span
        tight = sum(1 for r in rows if (r.max_hour - r.min_hour) * 2 <= span)
        assert tight >= len(rows) // 2


class TestSessionFunnel:
    def test_in_session_ordering_required(self, spark):
        from pulseboard_spark.operators.sessions import funnel, session_funnel

        GAP = 30 * 60 * 1000
        rows = [
            # entity A, session 1: full ordered funnel
            (1, 0, "A", "view", 0.0),
            (2, 10, "A", "click", 0.0),
            (3, 20, "A", "purchase", 0.0),
            # entity B: view in session 1, click+purchase in session 2 —
            # converts the HISTORY funnel but not the session funnel
            (4, 0, "B", "view", 0.0),
            (5, 2 * GAP, "B", "click", 0.0),
            (6, 2 * GAP + 10, "B", "purchase", 0.0),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts_ms long, entity_id string, type string, value double"
        )
        sf = {r.step_no: r for r in session_funnel(df).collect()}
        # sessions with a view: A#1 and B#1 -> n1 = 2; only A#1 converts
        assert sf[1].n_sessions == 2 and sf[1].share_ppm == 1_000_000
        assert sf[2].n_sessions == 1 and sf[2].share_ppm == 500_000
        assert sf[3].n_sessions == 1
        hist = {r.step_no: r for r in funnel(df).collect()}
        assert hist[3].n_entities == 2  # history funnel counts B too


class TestLshRecallAudit:
    def test_high_band_recall_full_low_band_allowed_to_miss(self, spark, sf_dir):
        from pulseboard_spark.operators.dedup import lsh_recall_audit
        from pulseboard_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents")
        rows = {r.jaccard_band: r for r in lsh_recall_audit(docs).collect()}
        assert rows, "the hash sample should yield shared-shingle pairs"
        for band, r in rows.items():
            assert 0 <= r.n_caught <= r.n_pairs
            assert r.recall_ppm == (r.n_caught * 1_000_000) // r.n_pairs
            # at/above the dedup threshold the banding must be lossless
            if band >= 8:
                assert r.recall_ppm == 1_000_000, (band, r)


class TestFuzzyNeighborhood:
    """FastSS deletion-neighborhood blocking must be EXACT for max_dist=1 —
    the same pair set as the naive within-block quadratic join."""

    def _df(self, spark, names):
        return spark.createDataFrame(
            [(i, nm, i % 2) for i, nm in enumerate(names)],
            "k long, nm string, blk long",
        )

    def _pairs(self, spark, names, neighborhood):
        from pulseboard_spark.operators.dedup import blocked_fuzzy_pairs

        got = blocked_fuzzy_pairs(
            self._df(spark, names), key="k", name="nm", block="blk",
            max_dist=1, neighborhood=neighborhood,
        )
        return {(r.a_key, r.b_key, r.dist) for r in got.collect()}

    def test_edit_classes(self, spark):
        # substitution, insertion, deletion, equal, and far pairs — in both
        # blocks (odd/even keys), cross-length pairs included
        names = ["abcd", "abxd", "abcde", "abd", "abcd", "zzzz", "zzzy", "qrst"]
        assert self._pairs(spark, names, True) == self._pairs(spark, names, False)

    def test_rejects_wider_distance(self, spark):
        from pulseboard_spark.operators.dedup import blocked_fuzzy_pairs

        with pytest.raises(ValueError):
            blocked_fuzzy_pairs(self._df(spark, ["a"]), key="k", name="nm",
                                block="blk", max_dist=2, neighborhood=True)

    @pytest.mark.parity  # gate-budget: keeps the default gate under 10 min
    def test_random_strings_equal_naive(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        @settings(max_examples=8, deadline=None,
                  suppress_health_check=[HealthCheck.function_scoped_fixture])
        @given(names=st.lists(st.text(alphabet="ab1", min_size=1, max_size=6),
                              min_size=2, max_size=14))
        def check(names):
            assert self._pairs(spark, names, True) == self._pairs(spark, names, False)

        check()


class TestNumericDomain:
    """Numeric input-domain contract (SCALE.md "Numeric input-domain
    contract"): the exact-integer parity surfaces saturate 128-bit
    arithmetic at extreme magnitudes and must fail LOUDLY (ANSI
    ArithmeticException) rather than silently corrupt — the DuckDB oracle
    fails the same inputs with its own INT128/DECIMAL range errors
    (demonstrated by tools/probes/oracle_fuzz.py before the edges profile
    was scoped to in-domain magnitudes)."""

    def test_autocorr_out_of_domain_fails_loudly(self, spark):
        # |value| = 1e12 → deviations ~1e18 micro, lag products ~1e36,
        # num·10⁶ ≈ 1e42 > DECIMAL(38) — no integer type can hold it
        from pulseboard_spark.operators.timeseries import value_autocorr

        rows = [(i, 3_600_000 * i, "t", (1.0e12 if i % 2 else 1.0)) for i in range(8)]
        ev = spark.createDataFrame(rows, "event_id long, ts_ms long, type string, value double")
        with pytest.raises(Exception, match="Decimal|overflow|OUT_OF_RANGE"):
            value_autocorr(ev).collect()

    def test_label_noise_out_of_domain_fails_loudly(self, spark):
        # |component| = 1e6 → micro 1e12, squared distance ~1e24·dims —
        # past int64; the decimal fold is exact but the BIGINT output
        # cast must refuse, not wrap
        from pulseboard_spark.operators.similarity import label_noise_suspects

        big = [1.0e6] * 8
        small = [0.0] * 8
        df = spark.createDataFrame(
            [(1, big, 0), (2, small, 0), (3, small, 0)],
            "vec_id long, embedding array<float>, label int",
        )
        with pytest.raises(Exception, match="CAST_OVERFLOW|overflow|Decimal"):
            label_noise_suspects(df).collect()

    def test_in_domain_magnitudes_survive(self, spark):
        # the documented ceilings themselves are safe: |value| = 1e9
        # (autocorr) and |component| = 1e3 (micro² surfaces)
        from pulseboard_spark.operators.similarity import label_noise_suspects
        from pulseboard_spark.operators.timeseries import value_autocorr

        rows = [(i, 3_600_000 * i, "t", (1.0e9 if i % 2 else 1.0)) for i in range(8)]
        ev = spark.createDataFrame(rows, "event_id long, ts_ms long, type string, value double")
        assert value_autocorr(ev).collect()
        df = spark.createDataFrame(
            [(1, [1.0e3] * 8, 0), (2, [0.0] * 8, 0), (3, [1.0] * 8, 0)],
            "vec_id long, embedding array<float>, label int",
        )
        assert label_noise_suspects(df).collect()


class TestAsciiFold:
    """ascii_lower must agree byte-for-byte between Spark and DuckDB on
    the adversarial alphabet where full-Unicode lower() does NOT (Java
    maps 'İ' to 'i'+U+0307, utf8proc to 'i' — the oracle-fuzz unicode
    profile broke 19 queries through that one divergence)."""

    SNIPPETS = [
        "ÅNGSTRÖM straße Über ÇELIK İstanbul",
        "日本語のテキスト ABC xyz",
        "مرحبا WORLD",
        "emoji 🎉🚀 mixé Café naïve rôle",
        "éléphant å ZORRO",
        "ΚΑΛΗΜΕΡΑ ΣΟΦΟΣ τέλος END",
        "",
        "plain ascii TEXT 123 #$%",
    ]

    def test_fold_matches_duckdb(self, spark):
        import duckdb

        from pulseboard_spark.operators.text import ascii_lower

        df = spark.createDataFrame([(s,) for s in self.SNIPPETS], "text string")
        got = [r[0] for r in df.select(ascii_lower(F.col("text"))).collect()]
        con = duckdb.connect()
        want = [
            con.execute(
                "SELECT translate(?, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',"
                " 'abcdefghijklmnopqrstuvwxyz')", [s]
            ).fetchone()[0]
            for s in self.SNIPPETS
        ]
        assert got == want

    def test_fold_is_identity_on_driver_alphabet(self, spark):
        # the driver corpus is lowercase ASCII — the fold must be a no-op
        # there, which is why the sweep stayed bit-identical
        from pulseboard_spark.operators.text import ascii_lower

        s = "the fast key order sort table scan merge part window 123"
        df = spark.createDataFrame([(s,)], "text string")
        assert df.select(ascii_lower(F.col("text"))).collect()[0][0] == s


class TestUnicodeNormalize:
    """normalize_text / letter_tokens must agree with the DuckDB oracle
    primitives (nfc_normalize, RE2 \\p{L}+) byte-for-byte — the safety
    argument for oracle-checking unicode_token_stats.  NFC agreement is
    guaranteed by the Unicode normalization stability policy; these tests
    keep the guarantee *verified* across Python/utf8proc/JVM upgrades."""

    SNIPPETS = [
        "ÅNGSTRÖM straße Über ÇELIK İstanbul",
        "日本語のテキストは空白なしで続きます",
        "مرحبا بالعالم هذا نص عربي",
        "emoji 🎉🚀 mixé Café naïve rôle",
        "éléphant å",  # decomposed accents: NFC must compose
        "ΚΑΛΗΜΕΡΑ ΣΟΦΟΣ τέλος",
        "Ångström Ångström",  # composed/decomposed twins of one word
        "Ǆungla ǅungla ǆungla",  # tri-case ligature
        "한국어 텍스트 테스트",
        "नमस्ते दुनिया",  # Devanagari: matras are \p{M}, words must stay whole
        "i̇stanbul  ̇ x",  # combining-mark continuation + a letterless mark run
        "",
        "   \t  ",
        "plain ascii TEXT 123 #$%",
        None,
    ]

    def test_spark_plan_matches_duckdb_end_to_end(self, spark):
        """The full operator column stack (pandas-UDF NFC → JVM \\p{L}
        tokenizer → md5 fingerprint) vs the oracle's expressions."""
        import duckdb

        from pulseboard_spark.operators.unicode_text import letter_tokens, normalize_text

        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(self.SNIPPETS)], "i int, text string"
        )
        norm = normalize_text(F.col("text"))
        got = {
            r["i"]: (r["norm"], r["toks"])
            for r in df.select("i", norm.alias("norm"), letter_tokens(norm).alias("toks")).collect()
        }
        con = duckdb.connect()
        for i, s in enumerate(self.SNIPPETS):
            want = con.execute(
                r"SELECT nfc_normalize(?),"
                r" regexp_extract_all(nfc_normalize(?), '\p{L}[\p{L}\p{M}]*')",
                [s, s],
            ).fetchone()
            assert got[i][0] == want[0], f"NFC diverges on {s!r}"
            toks = list(got[i][1]) if got[i][1] is not None else None
            assert toks == want[1], f"\\p{{L}} tokens diverge on {s!r}"

    def test_nfc_kernel_matches_duckdb_on_random_unicode(self):
        """Hypothesis fuzz of the kernel-vs-utf8proc boundary (no JVM —
        the Spark application of the same kernel is pinned end-to-end
        above).  Alphabet: the scripts + combining marks a multilingual
        corpus actually contains."""
        import duckdb
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from pulseboard_spark.operators.unicode_text import _nfc

        alphabet = st.one_of(
            st.characters(codec="utf-8", categories=["L", "M", "N", "P", "Z", "S"]),
            st.sampled_from("åéİßǅΣσς ̇̊́日本語한مر🎉"),
        )
        con = duckdb.connect()

        @settings(max_examples=300, deadline=None)
        @given(st.text(alphabet=alphabet, max_size=40))
        def check(s):
            want = con.execute("SELECT nfc_normalize(?)", [s]).fetchone()[0]
            assert _nfc(s) == want

        check()

    def test_casefold_pins(self):
        """The casefolded canonical form has NO DuckDB mirror — pin its
        defining cases against explicit expected strings."""
        from pulseboard_spark.operators.unicode_text import _nfc_casefold

        assert _nfc_casefold("straße") == "strasse"  # full fold, not simple
        assert _nfc_casefold("İstanbul") == "i̇stanbul"  # dotted İ keeps the dot
        assert _nfc_casefold("ΣΟΦΟΣ") == "σοφοσ"  # final sigma folds to σ
        assert _nfc_casefold("Ǆungla") == "ǆungla"
        assert _nfc_casefold("Ångström") == "ångström"  # decomposed in, composed out
        assert _nfc_casefold(None) is None
        assert _nfc_casefold("") == ""

    def test_casefold_properties_on_random_unicode(self):
        """The canonical caseless form's algebra, hypothesis-fuzzed —
        restricted to properties Unicode ACTUALLY defines (r08 verdict:
        the earlier upper/lower-collapse clause was false — 'ı' U+0131
        uppercases to 'I' which folds to 'i', while 'ı' folds to itself,
        so casefold∘upper ≢ casefold∘lower is BY DESIGN for Turkic
        dotless i and friends).  What the standard does guarantee, and
        what downstream token equality relies on: fold idempotence, and
        the kernel's own contract that its output is NFC-stable.
        Fold-vs-published-data coverage lives in
        test_casefold_matches_published_casefolding_vectors."""
        from hypothesis import example, given, settings
        from hypothesis import strategies as st

        from pulseboard_spark.operators.unicode_text import _nfc, _nfc_casefold

        alphabet = st.one_of(
            st.characters(codec="utf-8", categories=["L", "M", "N", "P", "Z"]),
            st.sampled_from("åéİßǅΣσς日本語한مر"),
        )

        @settings(max_examples=500, deadline=None)
        @given(st.text(alphabet=alphabet, max_size=30))
        @example("ı")  # dotless i — falsified the old collapse clause
        @example("İ")  # dotted İ — multi-codepoint F expansion
        @example("ß")  # ß → ss
        @example("Σοφός")  # final sigma in context
        @example("ǅ")  # titlecase ǅ
        def check(s):
            folded = _nfc_casefold(s)
            assert _nfc_casefold(folded) == folded  # fold is idempotent
            assert _nfc(folded) == folded  # kernel contract: output is NFC

        check()

    def test_casefold_matches_published_casefolding_vectors(self):
        """Golden-vector anchor for the oracle-less casefold path (r08
        verdict item 2): (codepoint, fold sequence) pairs transcribed
        from Unicode's published CaseFolding.txt (C+F status lines —
        public UCD data), covering every class of multi-codepoint F
        expansion (sharp s, dotted İ, Greek iota-subscript and
        breathing/accent stacks, Latin ligatures, Armenian ligatures),
        the Turkic/Cherokee asymmetries, and final sigma.  The kernel
        asserts NFC(fold) because _nfc_casefold re-normalizes — which
        these vectors exercise both ways (0390/03B0 recompose; 0130
        stays decomposed, no precomposed i-with-dot exists)."""
        import unicodedata

        from pulseboard_spark.operators.unicode_text import _nfc_casefold

        CASEFOLDING_VECTORS = [
            (0x00DF, [0x73, 0x73]),            # ß -> ss (F)
            (0x1E9E, [0x73, 0x73]),            # ẞ -> ss (F)
            (0x0130, [0x69, 0x0307]),          # İ -> i + combining dot (F)
            (0x0149, [0x02BC, 0x6E]),          # ŉ (F)
            (0x0390, [0x03B9, 0x0308, 0x0301]),  # ΐ (F; recomposes under NFC)
            (0x03B0, [0x03C5, 0x0308, 0x0301]),  # ΰ (F; recomposes under NFC)
            (0x0587, [0x0565, 0x0582]),        # Armenian ech-yiwn (F)
            (0x1E96, [0x68, 0x0331]),          # ẖ (F; no precomposed form)
            (0x1E97, [0x74, 0x0308]),          # ẗ (F)
            (0x1E98, [0x77, 0x030A]),          # ẘ (F)
            (0x1E99, [0x79, 0x030A]),          # ẙ (F)
            (0x1E9A, [0x61, 0x02BE]),          # ẚ (F)
            (0x1F50, [0x03C5, 0x0313]),        # ὐ (F)
            (0x1F52, [0x03C5, 0x0313, 0x0300]),
            (0x1F54, [0x03C5, 0x0313, 0x0301]),
            (0x1F56, [0x03C5, 0x0313, 0x0342]),
            (0x1F80, [0x1F00, 0x03B9]),        # ᾀ -> ἀι (iota subscript, F)
            (0x1F88, [0x1F00, 0x03B9]),        # ᾈ (titlecase form, F)
            (0x1FB2, [0x1F70, 0x03B9]),
            (0x1FB3, [0x03B1, 0x03B9]),
            (0x1FB4, [0x03AC, 0x03B9]),
            (0x1FB6, [0x03B1, 0x0342]),
            (0x1FB7, [0x03B1, 0x0342, 0x03B9]),
            (0x1FBC, [0x03B1, 0x03B9]),        # ᾼ (F)
            (0x1FC3, [0x03B7, 0x03B9]),        # ῃ (F)
            (0x1FF3, [0x03C9, 0x03B9]),        # ῳ (F)
            (0x1FFC, [0x03C9, 0x03B9]),        # ῼ (F)
            (0x0345, [0x03B9]),                # ypogegrammeni -> iota (C)
            (0x03C2, [0x03C3]),                # final sigma -> sigma (C)
            (0xFB00, [0x66, 0x66]),            # ﬀ (F)
            (0xFB01, [0x66, 0x69]),
            (0xFB02, [0x66, 0x6C]),
            (0xFB03, [0x66, 0x66, 0x69]),
            (0xFB04, [0x66, 0x66, 0x6C]),
            (0xFB05, [0x73, 0x74]),            # ﬅ long-s t (F)
            (0xFB06, [0x73, 0x74]),            # ﬆ (F)
            (0xFB13, [0x0574, 0x0576]),        # Armenian ligatures (F)
            (0xFB14, [0x0574, 0x0565]),
            (0xFB15, [0x0574, 0x056B]),
            (0xFB16, [0x057E, 0x0576]),
            (0xFB17, [0x0574, 0x056D]),
            (0x0131, [0x0131]),                # dotless ı folds to ITSELF (no entry)
            (0x0049, [0x69]),                  # I -> i (C; default, non-Turkic)
            (0xAB70, [0x13A0]),                # Cherokee folds small -> CAPITAL (C)
            (0x13A0, [0x13A0]),                # Cherokee capital is the fold class rep
            (0x01C4, [0x01C6]),                # Ǆ (C)
            (0x01C5, [0x01C6]),                # titlecase ǅ (C)
            (0x0531, [0x0561]),                # Armenian Ayb (C)
        ]
        for cp, fold in CASEFOLDING_VECTORS:
            want = unicodedata.normalize("NFC", "".join(chr(c) for c in fold))
            got = _nfc_casefold(chr(cp))
            assert got == want, (
                f"U+{cp:04X}: fold -> {[hex(ord(c)) for c in got]}, "
                f"CaseFolding.txt says {[hex(c) for c in fold]}"
            )
            # and embedded in a word — folding is context-free (the C+F
            # set deliberately excludes the context-dependent T lines)
            embedded = f"x{chr(cp)}y"
            assert _nfc_casefold(embedded) == unicodedata.normalize(
                "NFC", f"x{''.join(chr(c) for c in fold)}y"
            )

    def test_casefold_variants_share_fingerprint(self, spark):
        """The point of the caseless form: case/composition variants of
        the same word must produce identical token fingerprints."""
        from pulseboard_spark.operators.unicode_text import unicode_token_stats

        docs = spark.createDataFrame(
            [
                (1, "Straße über İstanbul", "de", 20),
                (2, "STRASSE ÜBER İSTANBUL", "de", 21),
                (3, "straße über i̇stanbul", "de", 22),  # decomposed umlaut
            ],
            "doc_id long, text string, lang string, n_chars long",
        )
        rows = unicode_token_stats(docs, casefold=True).collect()
        fps = {r["tokens_fingerprint"] for r in rows}
        assert len(fps) == 1
        # 3, not 4: the \p{M} continuation keeps casefolded 'İ' (i+U+0307,
        # no precomposed NFC form) inside one token
        assert {r["n_letter_tokens"] for r in rows} == {3}


class TestScaledLongExactSums:
    """r11: the hot decimal(27,6) sums in brand_part_revenue_topn and
    tpch_q2 now accumulate the decimal's integer units (value·10⁶) in a
    LONG.  The per-row rounding is the unchanged decimal cast, so the sum
    — and the double it surfaces as — must be bit-identical to the
    straight decimal formulation.  Pinned here against the literal old
    expressions on real data (the oracle pins the same thing against
    DuckDB at every SF)."""

    def test_brand_topn_matches_decimal_formulation(self, spark, sf_dir):
        from pulseboard_spark.operators.relational import (
            brand_part_revenue_topn,
            top_n_per_group,
        )

        lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        part = spark.read.parquet(f"{sf_dir}/part.parquet")
        got = {
            (r.p_brand, r.p_partkey): (r.revenue, r.rnk)
            for r in brand_part_revenue_topn(lineitem, part).collect()
        }
        # the pre-r11 formulation, verbatim
        joined = lineitem.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        per_part = joined.groupBy("p_brand", "p_partkey").agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(27,6)")
            ).alias("revenue_dec")
        )
        ranked = top_n_per_group(
            per_part, ["p_brand"], F.col("revenue_dec"), 3, tiebreak=["p_partkey"]
        )
        want = {
            (r.p_brand, r.p_partkey): (r.revenue, r.rnk)
            for r in ranked.select(
                "p_brand",
                "p_partkey",
                F.col("revenue_dec").cast("double").alias("revenue"),
                F.col("rnk").cast("int").alias("rnk"),
            ).collect()
        }
        assert got == want  # exact ==, doubles included: bit-identical

    def test_q2_unit_cost_matches_decimal_formulation(self, spark, sf_dir):
        from pulseboard_spark.registry import QUERIES

        got = {
            (r.p_partkey, r.s_name): r.min_unit_cost
            for r in QUERIES["tpch_q2_min_cost_supplier"](spark, sf_dir).collect()
        }
        l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        # the pre-r11 per-(part, supplier) cost, verbatim
        cost_dec = F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(27,6)")
        ).cast("double") / F.sum(F.col("l_quantity").cast("decimal(27,6)")).cast("double")
        u6 = (
            lambda c: F.sum((c.cast("decimal(27,6)") * 1000000).cast("long")).cast("double")
            / F.lit(1e6)
        )
        cost_u6 = u6(F.col("l_extendedprice") * (1 - F.col("l_discount"))) / u6(
            F.col("l_quantity")
        )
        cmp = l.groupBy("l_partkey", "l_suppkey").agg(
            cost_dec.alias("dec"), cost_u6.alias("u6")
        )
        # bit-identical per group, not just on the argmin winners
        assert cmp.filter(~F.col("dec").eqNullSafe(F.col("u6"))).count() == 0
        assert len(got) > 0


class TestGram6Audit:
    """The shared rounded-cosine kernel behind every top-k and threshold
    block computes the gram with BLAS plus a rounding-boundary audit
    (similarity._gram6).  Contract: bit-identical to the exact
    sequential-fold formulation after round-to-6 — pinned here on random
    matrices INCLUDING values planted exactly on round boundaries (the
    audit path), zero vectors (norm guard), and empty blocks."""

    def test_matches_fold_random(self):
        import numpy as np

        from pulseboard_spark.operators.similarity import (
            _gram6,
            _safe_norms,
            _seq_gram,
        )

        rng = np.random.default_rng(7)
        for n, m, d in [(200, 300, 64), (64, 64, 7), (1, 500, 64), (3, 2, 1)]:
            A = rng.standard_normal((n, d))
            M = rng.standard_normal((m, d))
            A[0, :] = 0.0  # zero vector: the norm guard must behave alike
            want = np.round(
                _seq_gram(A, M) / (_safe_norms(A)[:, None] * _safe_norms(M)[None, :]), 6
            )
            got = _gram6(A, M)
            assert got.shape == want.shape
            assert np.array_equal(got, want)  # bit-exact, no tolerance

    def test_boundary_values_hit_audit(self):
        import numpy as np

        from pulseboard_spark.operators.similarity import (
            _gram6,
            _safe_norms,
            _seq_gram,
        )

        # engineer cosines that land exactly on x.xxxxxx5 boundaries:
        # unit-ish vectors whose dot is k/2e6 for odd k
        d = 2
        A = np.array([[1.0, 0.0]] * 8)
        ks = [1, 3, 5, -1, -3, 999999, 1000001, -999999]
        M = np.array([[k / 2e6, np.sqrt(max(0.0, 1 - (k / 2e6) ** 2))] for k in ks])
        # do NOT normalize away the planted dot: norms divide it but the
        # scaled value stays within the audit margin of a boundary
        want = np.round(
            _seq_gram(A, M) / (_safe_norms(A)[:, None] * _safe_norms(M)[None, :]), 6
        )
        got = _gram6(A, M)
        assert np.array_equal(got, want)

    def test_empty_blocks(self):
        import numpy as np

        from pulseboard_spark.operators.similarity import _gram6

        assert _gram6(np.zeros((0, 4)), np.zeros((5, 4))).shape == (0, 5)
        assert _gram6(np.zeros((3, 0)), np.zeros((5, 0))).shape == (3, 5)
