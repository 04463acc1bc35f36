"""Spark ML regression stage (M1-M6) and multimodal plumbing tests."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from crypto_data_pipeline_spark.ml import regression
from crypto_data_pipeline_spark.operators import multimodal


@pytest.fixture(scope="module")
def feature_df(spark):
    """Noisy linear target over two features, chronological index —
    y_t = 2*f1 + 3*f2 + eps, so the linear family must fit near-perfectly."""
    rng = np.random.default_rng(7)
    rows = []
    for i in range(300):
        f1, f2 = rng.normal(), rng.normal()
        rows.append(
            (
                dt.date(2024, 1, 1) + dt.timedelta(days=i),
                float(f1),
                float(f2),
                float(2 * f1 + 3 * f2 + rng.normal(0, 0.01)),
            )
        )
    return spark.createDataFrame(rows, "d date, f1 double, f2 double, next_day_price double")


def test_chronological_split_no_leakage(feature_df):
    train, test = regression.chronological_split(feature_df, "d")
    max_train = train.agg(F.max("d")).collect()[0][0]
    min_test = test.agg(F.min("d")).collect()[0][0]
    assert max_train < min_test  # strictly time-ordered cut
    n_train, n_test = train.count(), test.count()
    assert n_test == 300 - int(300 * (1 - 1 / 6))


@pytest.mark.slow
def test_model_comparison_table(feature_df):
    out = regression.model_comparison(feature_df, ["f1", "f2"], "d").collect()
    assert [set(r.asDict()) for r in out] == [{"model", "rmse", "mae", "r2"}] * 4
    assert {r.model for r in out} == {"linear", "ridge", "lasso", "gbt"}
    # best-first ordering (O4: orderBy(rmse).limit(1) picks the winner)
    rmses = [r.rmse for r in out]
    assert rmses == sorted(rmses)
    # the unregularized linear fit must recover the clean linear target
    best = out[0]
    assert best.model == "linear" and best.rmse < 0.1 and best.r2 > 0.99
    # metric invariants (the hash-checked face of model_comparison_sanity)
    for r in out:
        assert r.rmse >= r.mae > 0 and r.r2 <= 1.0
    # ridge(α=1) shrinks a clean linear target strictly toward zero:
    # never better than the unregularized fit, but still a strong fit
    by_model = {r.model: r for r in out}
    assert by_model["ridge"].rmse >= by_model["linear"].rmse
    assert by_model["ridge"].r2 > 0.9


def test_regression_metrics_match_evaluator(spark):
    """The single-agg metric pass (round 14) computes the SAME three
    numbers RegressionEvaluator did — rmse/mae/r2 agree to ~1e-12
    relative (identical sufficient statistics, only accumulation order
    differs), including the degenerate constant-label holdout where
    RegressionMetrics' SStot hits 0."""
    import math

    from pyspark.ml.evaluation import RegressionEvaluator

    rng = np.random.default_rng(11)
    rows = [(float(y), float(y + rng.normal(0, 0.5))) for y in rng.normal(3, 2, 200)]
    pred = spark.createDataFrame(rows, "label double, prediction double")
    ours = regression.regression_metrics(pred, "label")
    for m, v in (("rmse", ours.rmse), ("mae", ours.mae), ("r2", ours.r2)):
        ev = RegressionEvaluator(
            labelCol="label", predictionCol="prediction", metricName=m
        ).evaluate(pred)
        assert math.isclose(v, ev, rel_tol=1e-9), (m, v, ev)
    # constant label: SStot == 0 -> r2 = -inf on nonzero error (both sides)
    const = spark.createDataFrame([(1.0, 2.0), (1.0, 0.5)], "label double, prediction double")
    ours_c = regression.regression_metrics(const, "label")
    ev_c = RegressionEvaluator(
        labelCol="label", predictionCol="prediction", metricName="r2"
    ).evaluate(const)
    assert ours_c.r2 == ev_c == float("-inf")


def test_naive_bayes_classifier_mechanics(spark):
    """Hand-checkable NB on a 6-doc fixture: a clean class signal is
    recovered, an all-unseen-token doc falls back to smoothed mass +
    prior (majority class wins), and the score matches the closed form."""
    import math

    from crypto_data_pipeline_spark.ml.classify import nb_predict, nb_train

    train = spark.createDataFrame(
        [
            (1, "a", "cat cat dog"),
            (2, "a", "cat fish"),
            (3, "a", "cat dog"),
            (4, "b", "bird bird worm"),
            (5, "b", "bird worm"),
        ],
        "doc_id long, lang string, text string",
    )
    classes, grid = nb_train(train, label="lang")
    # V=5 (cat dog fish bird worm); class a: 7 tokens, class b: 5
    by_label = {r.label: r for r in classes.collect()}
    assert by_label["a"].vsize == 5 and by_label["a"].n_class_tokens == 7
    assert math.isclose(by_label["a"].log_prior, math.log(3 / 5))
    assert math.isclose(by_label["b"].log_unseen, math.log(1 / 10))

    test = spark.createDataFrame(
        [(10, "cat cat"), (11, "bird worm"), (12, "zebra zebra")],
        "doc_id long, text string",
    )
    preds = {r.doc_id: r for r in nb_predict(test, classes, grid).collect()}
    assert preds[10].predicted == "a" and preds[11].predicted == "b"
    # all-unseen doc: both classes score 2*log_unseen + prior; the
    # larger-V denominator loses, so majority-prior class a wins
    assert preds[12].predicted == "a"
    want = round(2 * math.log(1 / 12) + math.log(3 / 5) + 1e-9, 6)
    assert preds[12].score == want


def test_landed_nb_model_loads_without_a_job(spark, tmp_path):
    """`load_nb_model` reads the landed frames with their known schemas:
    the reload launches no footer-inference job, and the frames come
    back with the fitted model's columns, types and rows."""
    from crypto_data_pipeline_spark.ml.classify import load_nb_model, nb_train, save_nb_model

    train = spark.createDataFrame(
        [(1, "a", "cat dog"), (2, "b", "bird worm")], "doc_id long, lang string, text string"
    )
    fitted = nb_train(train, label="lang")
    save_nb_model(str(tmp_path), *fitted)
    sc = spark.sparkContext
    sc.setJobGroup("nb-load", "load_nb_model")
    try:
        loaded = load_nb_model(spark, str(tmp_path))
        spark._jsparkSession.sparkContext().listenerBus().waitUntilEmpty()
        assert sc.statusTracker().getJobIdsForGroup("nb-load") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    for got, want in zip(loaded, fitted):
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in want.schema
        ]
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


@pytest.mark.slow
def test_nb_min_tf_pruning_matches_python_reference(spark):
    """The NB grid's Heaps-law knob (round-8, symmetric with the LM's
    min_count): grid keeps tf >= min_tf, n_class_tokens/vsize stay
    exact, and a pruned (term, class) scores through log_unseen —
    which IS the add-one value for tf=0, so the pruned score is a
    deterministic function of (min_tf, corpus). Pinned against a
    literal Python model; min_tf=1 must be byte-identical to the
    unpruned grid."""
    import math
    import random
    import re
    from collections import Counter

    from crypto_data_pipeline_spark.ml.classify import nb_predict, nb_train

    def py_predict(train_rows, test_rows, min_tf):
        tf = Counter()
        n_class = Counter()
        n_docs = Counter()
        vocab = set()
        for _, lab, t in train_rows:
            ts = re.sub(r"\s+", " ", t.strip().lower()).split(" ")
            for w in ts:
                tf[(w, lab)] += 1
                n_class[lab] += 1
                vocab.add(w)
            n_docs[lab] += 1
        v = len(vocab)
        n_train = sum(n_docs.values())
        out = {}
        for did, _, t in test_rows:
            ts = re.sub(r"\s+", " ", t.strip().lower()).split(" ")
            best = None
            for lab in sorted(n_docs):
                s = math.log(n_docs[lab] / n_train)
                for w in ts:
                    c = tf[(w, lab)] if tf[(w, lab)] >= min_tf else 0
                    s += math.log((c + 1) / (n_class[lab] + v))
                s = round(s + 1e-9, 6)
                if best is None or s > best[1]:
                    best = (lab, s)
            out[did] = best
        return out

    rng = random.Random(31)
    words = ["cat", "dog", "fish", "bird", "worm", "ant", "bee"]
    for case in range(6):
        train_rows = [
            (i, rng.choice(["a", "b"]),
             " ".join(rng.choice(words) for _ in range(rng.randint(2, 8))))
            for i in range(rng.randint(4, 10))
        ]
        test_rows = [
            (100 + i, None,
             " ".join(rng.choice(words) for _ in range(rng.randint(1, 6))))
            for i in range(4)
        ]
        train = spark.createDataFrame(
            [(i, l, t) for i, l, t in train_rows],
            "doc_id long, lang string, text string",
        )
        test = spark.createDataFrame(
            [(i, t) for i, _, t in test_rows], "doc_id long, text string"
        )
        for mtf in (1, 2, 3):
            classes, grid = nb_train(train, label="lang", min_tf=mtf)
            got = {
                r.doc_id: (r.predicted, r.score)
                for r in nb_predict(test, classes, grid).collect()
            }
            assert got == py_predict(train_rows, test_rows, mtf), (case, mtf)
        _, g1 = nb_train(train, label="lang", min_tf=1)
        _, g0 = nb_train(train, label="lang")
        assert sorted(map(tuple, g1.collect())) == sorted(map(tuple, g0.collect()))


def test_fake_media_schema_and_features(spark):
    docs = spark.createDataFrame(
        [(1, "aab"), (2, "zz")], "doc_id long, text string"
    )
    media = multimodal.fake_media_from_documents(docs)
    # simpleString compares names/types while ignoring nullability
    assert media.schema.simpleString() == multimodal.MEDIA_SCHEMA.simpleString()
    feats = {r.doc_id: r for r in multimodal.extract_media_features(media).collect()}
    # "aab" → bytes 97,97,98: mean 97.333..., modal byte 97
    assert feats[1].n_bytes == 3
    assert abs(feats[1].mean_byte - (97 + 97 + 98) / 3) < 1e-12
    assert feats[1].top_byte == 97
    assert feats[1].frame_sample == [97]  # stride 64 over 3 bytes → first only
    assert feats[2].top_byte == 122
    # "aab": p = (2/3, 1/3) → H = 2/3*log2(3/2) + 1/3*log2(3)
    import math

    h = (2 / 3) * math.log2(3 / 2) + (1 / 3) * math.log2(3)
    assert abs(feats[1].byte_entropy - h) < 1e-9
    assert feats[1].n_distinct_bytes == 2
    # "zz": single symbol → zero entropy
    assert feats[2].byte_entropy == 0.0 and feats[2].n_distinct_bytes == 1
    assert feats[1].format == "application/octet-stream"


def test_magic_number_sniffing(spark):
    """Real container magics route to the right format; the features
    stay codec-free (computed on the raw bytes either way)."""
    blobs = [
        (1, b"\x89PNG\r\n\x1a\n" + b"\x00" * 16, "image/png"),
        (2, b"\xff\xd8\xff\xe0" + b"\x01" * 16, "image/jpeg"),
        (3, b"RIFF\x24\x00\x00\x00WAVEfmt ", "audio/wav"),
        (4, b"\x00\x00\x00\x20ftypisom" + b"\x00" * 8, "video/mp4"),
        (5, b"\x1f\x8b\x08\x00" + b"\xaa" * 8, "application/gzip"),
        (6, b"just plain text", "application/octet-stream"),
    ]
    for _, raw, want in blobs:
        assert multimodal.sniff_format(raw) == want
    media = spark.createDataFrame(
        [(i, raw, ("sniff", len(raw))) for i, raw, _ in blobs],
        multimodal.MEDIA_SCHEMA,
    )
    got = {r.doc_id: r for r in multimodal.extract_media_features(media).collect()}
    for i, raw, want in blobs:
        assert got[i].format == want
        assert got[i].n_bytes == len(raw)


def test_media_feature_batching_matches_python(spark, sf_dir):
    """mapInPandas over the real documents table: per-blob features
    equal a driver-side recomputation on a sample (Arrow batch shape
    doesn't change values)."""
    from crypto_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = multimodal.fake_media_from_documents(docs)
    got = {r.doc_id: r for r in multimodal.extract_media_features(media).collect()}
    for row in docs.select("doc_id", "text").collect():
        raw = row.text.encode("utf-8")
        assert got[row.doc_id].n_bytes == len(raw)
        assert abs(got[row.doc_id].mean_byte - sum(raw) / len(raw)) < 1e-9


def test_real_codec_raises_hermetically_without_pillow(monkeypatch):
    """In a codec-free environment the real tier must refuse loudly,
    never fake an answer. Forced via monkeypatch so this contract
    holds (and is tested) even on machines where Pillow IS present."""
    monkeypatch.setattr(multimodal, "_pil", lambda: None)
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"\x00", codec="real")
    with pytest.raises(NotImplementedError):
        multimodal.extract_image_features(None)


def _bmp_bytes(w: int, h: int, rgb: bytes) -> bytes:
    """Minimal 24bpp BI_RGB BMP writer (BITMAPINFOHEADER, bottom-up
    rows, 4-byte padding, BGR pixel order) for fixture bytes."""
    import struct

    stride = (w * 3 + 3) & ~3
    px = bytearray()
    for r in range(h - 1, -1, -1):  # bottom-up
        row = bytearray()
        for c in range(w):
            i = (r * w + c) * 3
            row += bytes((rgb[i + 2], rgb[i + 1], rgb[i]))  # BGR
        row += b"\x00" * (stride - w * 3)
        px += row
    hdr = struct.pack("<2sIHHI", b"BM", 54 + len(px), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px), 2835, 2835, 0, 0)
    return hdr + dib + bytes(px)


def test_builtin_codec_decodes_hermetically(spark):
    """The dependency-free decode tier: 24-bit BMP and binary PPM
    fixture bytes decode to real width/height/mode/RGB24 through the
    full mapInPandas plumbing — no Pillow, no skip. Undecodable blobs
    quarantine as null-feature rows."""
    rgb = bytes(range(7 * 3 * 3))  # 7x3, 63 distinct byte values
    bmp = _bmp_bytes(7, 3, rgb)
    ppm = b"P6\n# comment\n7 3\n255\n" + rgb

    assert multimodal.decode_image_builtin(bmp) == (7, 3, "RGB", rgb)
    assert multimodal.decode_image_builtin(ppm) == (7, 3, "RGB", rgb)
    assert multimodal.decode_media(bmp, codec="builtin") == rgb
    assert multimodal.decode_media(ppm, codec="builtin") == rgb

    # optional cross-check against Pillow when it happens to exist —
    # inline, so its absence never produces a skip
    try:
        import io

        from PIL import Image

        with Image.open(io.BytesIO(bmp)) as im:
            assert (im.width, im.height) == (7, 3)
            assert im.convert("RGB").tobytes() == rgb
    except ImportError:
        pass

    media = spark.createDataFrame(
        [
            (1, bmp, ("image/bmp", len(bmp))),
            (2, ppm, ("image/x-portable-pixmap", len(ppm))),
            (3, b"not an image", ("junk", 12)),
            (4, bmp[:30], ("image/bmp", 30)),  # truncated header
        ],
        multimodal.MEDIA_SCHEMA,
    )
    got = {
        r.doc_id: r
        for r in multimodal.extract_image_features(media, codec="builtin").collect()
    }
    assert (got[1].width, got[1].height, got[1].mode, got[1].n_pixels) == (7, 3, "RGB", 21)
    assert (got[2].width, got[2].height, got[2].mode, got[2].n_pixels) == (7, 3, "RGB", 21)
    assert got[3].width is None and got[3].n_pixels is None
    assert got[4].width is None and got[4].n_pixels is None


def test_builtin_codec_feeds_frame_sampler(spark):
    """decode→frame-sample composition runs end-to-end hermetically:
    frames are cut from DECODED RGB24 pixels, not container bytes."""
    rgb = bytes((i * 7) % 256 for i in range(4 * 2 * 3))  # 4x2 image
    bmp = _bmp_bytes(4, 2, rgb)
    media = spark.createDataFrame(
        [(1, bmp, ("image/bmp", len(bmp)))], multimodal.MEDIA_SCHEMA
    )
    frames = multimodal.sample_frames(
        media, frame_bytes=8, stride=1, codec="builtin"
    ).collect()
    assert [f.frame_idx for f in frames] == [0, 1, 2]
    assert sum(f.n_frame_bytes for f in frames) == len(rgb)
    import hashlib

    want = hashlib.md5(rgb[:8].hex().upper().encode()).hexdigest()
    assert frames[0].frame_md5 == want


def test_builtin_codec_rejects_malformed_ppm_and_header_only_parity():
    """A '#' where the post-maxval whitespace belongs must raise (not
    decode comment text as pixels); header-only parse returns the same
    dims with identical validation, zero pixel copies."""
    rgb = bytes(range(2 * 2 * 3))
    good = b"P6\n2 2\n255\n" + rgb
    bad = b"P6 2 2 255#c\n" + rgb
    with pytest.raises(ValueError, match="maxval not followed by whitespace"):
        multimodal.decode_image_builtin(bad)
    with pytest.raises(ValueError, match="maxval not followed by whitespace"):
        multimodal.image_header_builtin(bad)

    bmp = _bmp_bytes(2, 2, rgb)
    for blob in (good, bmp):
        w, h, mode, px = multimodal.decode_image_builtin(blob)
        assert multimodal.image_header_builtin(blob) == (w, h, mode)
    # truncation still detected without materializing pixels
    with pytest.raises(ValueError, match="truncated"):
        multimodal.image_header_builtin(good[:-1])
    with pytest.raises(ValueError, match="truncated"):
        multimodal.image_header_builtin(bmp[:-1])
