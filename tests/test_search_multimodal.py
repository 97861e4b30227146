"""Similarity search (exact / LSH / IVF) + multimodal plumbing."""

import numpy as np
import pandas as pd
import pytest
import pyspark.sql.functions as F

from consent_based_conversion_adjustments_spark.operators.multimodal import (
    attach_payloads,
    decode_image,
    extract_features,
)
from consent_based_conversion_adjustments_spark.operators.similarity_search import (
    cosine_topk,
    ivf_topk,
    lsh_topk,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _qc(emb):
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("cand_id"), "embedding")
    return q, c


def test_l2_topk_matches_numpy(spark, emb):
    from consent_based_conversion_adjustments_spark.operators.similarity_search import (
        l2_topk,
    )

    q, c = _qc(emb)
    out = l2_topk(q, c, 5).collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    by_query = {}
    for r in out:
        by_query.setdefault(r["query_id"], []).append(r)
    assert by_query
    for qid, rows in by_query.items():
        assert len(rows) == 5
        qv = vecs[qid]
        dists = {
            cid: float(((qv - v) ** 2).sum())
            for cid, v in vecs.items() if cid != qid
        }
        expected = sorted(dists, key=lambda cid: (dists[cid], cid))[:5]
        got = [r["cand_id"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert got == expected
        for r in rows:
            assert r["sq_dist"] == pytest.approx(
                dists[r["cand_id"]], rel=1e-9
            )


def test_cosine_topk_matches_numpy(spark, emb):
    q, c = _qc(emb)
    out = cosine_topk(q, c, 5).collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    by_query = {}
    for r in out:
        by_query.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_query.items():
        assert len(rows) == 5
        qv = vecs[qid]
        sims = {
            cid: float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v)))
            for cid, v in vecs.items() if cid != qid
        }
        expected = sorted(sims, key=lambda cid: (-sims[cid], cid))[:5]
        got = [r["cand_id"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert got == expected
        for r in rows:
            assert r["cosine"] == pytest.approx(sims[r["cand_id"]], rel=1e-9)


@pytest.mark.parametrize("approx", [lsh_topk, ivf_topk])
def test_approx_ann_recall(spark, emb, approx):
    """Approximate paths must reach ≥40% recall@5 vs exact on this fixture
    (single-probe LSH / 4-probe IVF; both trade recall for candidate-set
    size — the scale knobs are n_planes / n_probe)."""
    q, c = _qc(emb)
    exact = cosine_topk(q, c, 5).select("query_id", "cand_id").collect()
    got = approx(q, c, 5).select("query_id", "cand_id").collect()
    exact_set = {(r["query_id"], r["cand_id"]) for r in exact}
    got_set = {(r["query_id"], r["cand_id"]) for r in got}
    recall = len(exact_set & got_set) / len(exact_set)
    assert recall >= 0.4
    # approximate results are real candidates, ranked by true cosine
    assert got_set <= {
        (r["query_id"], r["cand_id"])
        for r in cosine_topk(q, c, 500).collect()
    }


def test_decode_stub_contract():
    from consent_based_conversion_adjustments_spark.operators.multimodal import (
        _HAS_PIL,
    )

    if not _HAS_PIL:
        with pytest.raises(NotImplementedError):
            decode_image(b"bytes")
    w, h, feat = decode_image(b"bytes", fake=True)
    assert 16 <= w < 80 and 16 <= h < 80
    assert len(feat) == 8 and all(0 <= f <= 1 for f in feat)
    assert decode_image(b"bytes", fake=True) == (w, h, feat)  # deterministic


def test_real_codec_path_when_available():
    """When Pillow is importable the non-fake path decodes real images
    (skipped in codec-less containers — the guarded import keeps both
    environments green)."""
    from consent_based_conversion_adjustments_spark.operators.multimodal import (
        _HAS_PIL,
    )

    if not _HAS_PIL:
        pytest.skip("Pillow not installed")
    from PIL import Image
    import io

    buf = io.BytesIO()
    Image.new("RGB", (10, 6), (200, 30, 30)).save(buf, format="PNG")
    png = buf.getvalue()
    w, h, feat = decode_image(png)
    assert (w, h) == (10, 6)
    assert len(feat) == 8


def test_real_video_codec_path_when_available():
    """When PyAV is importable the non-fake path decodes a real (tiny,
    generated) video and returns exactly n_frames evenly-spaced RGB24
    frames — clamped when the clip is shorter than n_frames. Skipped in
    codec-less containers; the guarded import keeps both green."""
    from consent_based_conversion_adjustments_spark.operators.multimodal import (
        _HAS_PYAV,
        sample_frames,
    )

    if not _HAS_PYAV:
        pytest.skip("PyAV not installed")
    import io

    import av
    import numpy as np_

    buf = io.BytesIO()
    with av.open(buf, mode="w", format="mp4") as container:
        stream = container.add_stream("mpeg4", rate=4)
        stream.width, stream.height = 16, 16
        for i in range(8):
            arr = np_.full((16, 16, 3), i * 30, dtype=np_.uint8)
            frame = av.VideoFrame.from_ndarray(arr, format="rgb24")
            for packet in stream.encode(frame):
                container.mux(packet)
        for packet in stream.encode():
            container.mux(packet)
    payload = buf.getvalue()

    frames = sample_frames(payload, 3)
    assert len(frames) == 3
    assert all(len(fr) == 16 * 16 * 3 for fr in frames)
    # shorter-than-request clip: still exactly n_frames (clamped/repeated)
    assert len(sample_frames(payload, 20)) == 20


def test_single_pass_sample_short_stream_is_exact():
    """With total ≤ 2n the stride never doubles, every frame is buffered,
    and the sample equals the exact even-spacing formula — same indices
    the metadata path would pick."""
    from consent_based_conversion_adjustments_spark.operators.multimodal import (
        _single_pass_sample,
    )

    for total, n in [(8, 5), (3, 20), (1, 4), (10, 10)]:
        got = _single_pass_sample(iter(range(total)), n)
        step = (total - 1) / max(n - 1, 1)
        want = [min(round(i * step), total - 1) for i in range(n)]
        assert got == want, (total, n)
    assert _single_pass_sample(iter(()), 3) == []


def test_single_pass_sample_long_stream_bounded_and_near_even():
    """Long stream: the buffer stays ≤ 2n+1 entries, `materialize` runs
    only for buffered frames (never the full stream), and every selected
    index lands within one final stride of its exact even target."""
    from consent_based_conversion_adjustments_spark.operators.multimodal import (
        _single_pass_sample,
    )

    total, n = 100_000, 8
    calls = []
    got = _single_pass_sample(iter(range(total)), n, materialize=(
        lambda f: calls.append(f) or f
    ))
    assert len(got) == n
    assert got == sorted(got)
    # materialization is O(n log(total/n)), nowhere near the stream size
    assert len(calls) < 64 * n
    # final stride ≤ 2·total/n ⇒ nearest kept index within total/n of exact
    step = (total - 1) / (n - 1)
    for i, idx in enumerate(got):
        assert abs(idx - i * step) <= total / n, (i, idx)
    # endpoints: first frame is always kept exactly
    assert got[0] == 0


def test_resize_and_frame_sample_plumbing(spark):
    from consent_based_conversion_adjustments_spark.operators.multimodal import (
        sample_frames,
        sample_video_frames,
    )

    from consent_based_conversion_adjustments_spark.operators.multimodal import (
        _HAS_PYAV,
    )

    if not _HAS_PYAV:
        with pytest.raises(NotImplementedError):
            sample_frames(b"x", 2)
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
    media = attach_payloads(docs, "text", "doc_id")
    frames = sample_video_frames(media, 3)
    assert frames.count() == 60
    per = frames.groupBy("media_id").count().collect()
    assert all(r["count"] == 3 for r in per)
    # deterministic: same payload → same frame bytes
    f0 = {(r["media_id"], r["frame_no"]): bytes(r["frame"]) for r in frames.collect()}
    f1 = {
        (r["media_id"], r["frame_no"]): bytes(r["frame"])
        for r in sample_video_frames(media, 3).collect()
    }
    assert f0 == f1


def test_cli_arg_surface(tmp_path, spark):
    """The CLI mirrors the reference pipeline's runtime surface end-to-end."""
    from consent_based_conversion_adjustments_spark.__main__ import main

    rows = [
        (f"g{i}", "2021-11-20", 10.0 * (i + 1), i % 2 == 0) for i in range(6)
    ]
    df = spark.createDataFrame(
        rows, ["gclid", "conversion_date", "conversion_value", "consented"]
    )
    cpath, npath = str(tmp_path / "c"), str(tmp_path / "nc")
    df.filter("consented").drop("consented").write.parquet(cpath)
    df.filter("not consented").drop("consented").write.parquet(npath)
    out = str(tmp_path / "out")
    main(
        [
            "--consent-path", cpath,
            "--noconsent-path", npath,
            "--output-path", out,
            "--conversion-column", "conversion_value",
            "--id-columns", "gclid",
            "--date-column", "conversion_date",
            "--dates", "2021-11-20",
            "--number-nearest-neighbors", "1",
            "--impl", "sql",
        ]
    )
    import glob

    assert glob.glob(f"{out}/2021-11-20/adjustments_data/*.csv")
    assert glob.glob(f"{out}/2021-11-20/adjustments_summary/*.csv")


def test_cli_impl_offers_every_route():
    """``--impl`` accepts ``auto`` and each route ``run_adjustment`` can
    pin, including ``grouped`` (which ``auto`` picks on low-cardinality
    days past the pair-grid budget)."""
    from consent_based_conversion_adjustments_spark.__main__ import (
        build_parser,
    )

    required = [
        "--consent-path", "c", "--noconsent-path", "nc", "--output-path", "o",
        "--conversion-column", "v", "--id-columns", "id",
        "--date-column", "d", "--dates", "2021-11-20",
    ]
    parser = build_parser()
    for impl in ("auto", "sql", "numpy", "grouped", "lsh"):
        assert parser.parse_args(required + ["--impl", impl]).impl == impl
    assert parser.parse_args(required).impl == "auto"
    with pytest.raises(SystemExit):
        parser.parse_args(required + ["--impl", "cartesian"])


def test_multimodal_pipeline_plumbing(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    media = attach_payloads(docs, "text", "doc_id")
    feats = extract_features(media, fake_decode=True)
    rows = feats.limit(10).collect()
    assert len(rows) == 10
    import hashlib
    texts = {r["doc_id"]: r["text"] for r in docs.limit(0).collect()} or {
        r["doc_id"]: r["text"] for r in docs.collect()
    }
    for r in rows:
        payload = texts[r["media_id"]].encode()
        assert r["n_bytes"] == len(payload)
        assert r["content_sha"] == hashlib.sha256(payload).hexdigest()
        assert len(r["feature"]) == 8
    assert feats.count() == docs.count()


def test_lsh_neardup_matches_exact(spark, emb):
    """The registered LSH near-dup route must reproduce the exact all-pairs
    result on this corpus (deterministic planes; recall model in the
    operator docstring)."""
    from consent_based_conversion_adjustments_spark.operators.similarity_search import (
        cosine_neardup_lsh,
        cosine_neardup_pairs,
    )

    exact = {
        (r["id_a"], r["id_b"]): round(r["cosine"], 9)
        for r in cosine_neardup_pairs(emb, 0.45).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): round(r["cosine"], 9)
        for r in cosine_neardup_lsh(emb, 0.45).collect()
    }
    assert got == exact


def test_blas_neardup_matches_exact_any_blocking(spark, emb):
    """The block-pair grid kernel is exact: its output equals the all-pairs
    baseline for EVERY block count (each unordered row pair lands in exactly
    one block pair; blocking must not change the result set)."""
    from consent_based_conversion_adjustments_spark.operators.similarity_search import (
        cosine_neardup_blas,
        cosine_neardup_pairs,
    )

    exact = {
        (r["id_a"], r["id_b"]): round(r["cosine"], 9)
        for r in cosine_neardup_pairs(emb, 0.45).collect()
    }
    assert exact  # fixture must actually produce near-dup pairs
    for n_blocks in (1, 3, 8):
        got = {
            (r["id_a"], r["id_b"]): round(r["cosine"], 9)
            for r in cosine_neardup_blas(emb, 0.45, n_blocks=n_blocks).collect()
        }
        assert got == exact, f"n_blocks={n_blocks}"


def test_blas_neardup_empty_and_zero_vectors(spark):
    """Empty input yields an empty frame with the contract schema (the old
    kernel crashed in np.stack); zero vectors match nothing."""
    from consent_based_conversion_adjustments_spark.operators.similarity_search import (
        cosine_neardup_blas,
    )

    schema = "vec_id long, embedding array<double>"
    empty = spark.createDataFrame([], schema)
    out = cosine_neardup_blas(empty, 0.5)
    assert out.columns == ["id_a", "id_b", "cosine"]
    assert out.count() == 0

    zeros = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 0.0]), (4, [1.0, 0.0])],
        schema,
    )
    rows = cosine_neardup_blas(zeros, 0.5).collect()
    assert {(r["id_a"], r["id_b"]) for r in rows} == {(3, 4)}


def test_spark_hash_long_parity(spark):
    """spark_hash.spark_hash_long is bit-equal to F.hash on LongType —
    the invariant the IVF oracle generator's sample ordering rests on."""
    import pyspark.sql.functions as F

    from consent_based_conversion_adjustments_spark.functions.spark_hash import (
        spark_hash_long,
    )

    vals = [0, 1, -1, 7, 499, 100000, 2**40 + 17, -(2**35)]
    rows = (
        spark.createDataFrame([(v,) for v in vals], "v long")
        .select("v", F.hash("v").alias("h"))
        .collect()
    )
    assert all(spark_hash_long(r["v"]) == r["h"] for r in rows)


def test_ivf_oracle_centroids_match_pipeline(spark):
    """The oracle generator's replayed k-means fit is bit-equal to the
    centroids the IVF pipeline itself fits at sf0.01."""
    import numpy as np

    from consent_based_conversion_adjustments_spark.operators.similarity_search import (
        _kmeans_centroids,
    )
    from consent_based_conversion_adjustments_spark.functions.spark_hash import (
        spark_hash_long,
    )
    from consent_based_conversion_adjustments_spark.operators.similarity_search import (
        _kmeans_fit,
    )
    import duckdb
    import pyspark.sql.functions as F

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    pipeline_cents = _kmeans_centroids(
        emb.select(F.col("vec_id").alias("cand_id"), "embedding"),
        vec_col="embedding", id_col="cand_id", n_cells=16,
    )
    rows = duckdb.connect().execute(
        "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) "
        "FROM read_parquet('/root/testdata/sf0.01/embeddings.parquet')"
    ).fetchall()
    rows.sort(key=lambda r: (spark_hash_long(r[0]), r[0]))
    replay_cents = _kmeans_fit(
        np.array([r[1] for r in rows[:4096]], dtype=np.float64), n_cells=16
    )
    assert np.array_equal(pipeline_cents, replay_cents)


def test_audio_decode_real_wav_and_fake():
    """The audio path is REAL with no optional dependency: stdlib `wave`
    parses PCM WAV. A generated 16-bit sine clip decodes to the right
    rate/length and non-zero RMS windows; the fake contract stays
    deterministic; non-WAV bytes raise."""
    import io
    import math
    import struct
    import wave

    from consent_based_conversion_adjustments_spark.operators.multimodal import (
        decode_audio,
    )

    buf = io.BytesIO()
    rate, n = 8000, 1600
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(
            b"".join(
                struct.pack(
                    "<h", int(20000 * math.sin(2 * math.pi * 440 * i / rate))
                )
                for i in range(n)
            )
        )
    payload = buf.getvalue()

    got_rate, got_n, feat = decode_audio(payload)
    assert (got_rate, got_n) == (rate, n)
    assert len(feat) == 8 and all(f > 0.1 for f in feat)  # steady sine RMS
    assert decode_audio(payload) == (got_rate, got_n, feat)  # deterministic

    with pytest.raises(ValueError):
        decode_audio(b"not a wav")
    fake = decode_audio(b"anything", fake=True)
    assert fake == decode_audio(b"anything", fake=True)
    assert len(fake[2]) == 8


def test_audio_feature_plumbing(spark):
    """Distributed audio pipeline: attach payloads, extract features via
    mapInPandas, one row per media item with a duration and 8-dim RMS."""
    from consent_based_conversion_adjustments_spark.operators.multimodal import (
        extract_audio_features,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(25)
    media = attach_payloads(docs, "text", "doc_id")
    rows = extract_audio_features(media, fake_decode=True).collect()
    assert len(rows) == 25
    for r in rows:
        assert r["sample_rate"] in (8000, 16000, 22050, 44100)
        assert r["duration_s"] == pytest.approx(r["n_samples"] / r["sample_rate"])
        assert len(r["feature"]) == 8


def test_image_phash_dedup_contract(spark):
    """Perceptual dedup: exact duplicate payloads MUST share a bucket
    (count them through canonical grouping), hashes stay within 16 bits,
    and the Catalyst bit math matches a python replay of the fake codec."""
    import hashlib

    from consent_based_conversion_adjustments_spark.operators.multimodal import (
        attach_payloads,
        extract_features,
        phash_dedup,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    dup = docs.limit(20).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    both = docs.unionByName(dup)
    feats = extract_features(
        attach_payloads(both, "text", "doc_id"), fake_decode=True
    )
    rows = phash_dedup(feats).collect()
    assert all(0 <= r["phash"] < (1 << 16) for r in rows)
    by_hash = {r["phash"]: r for r in rows}
    # python replay on the duplicated slice: the dup's bucket must exist,
    # contain >= 2 copies, and keep the ORIGINAL (smaller) id as canonical
    for r in docs.limit(20).collect():
        digest = hashlib.sha256(r["text"].encode("utf-8")).digest()
        b = [digest[2 + i] for i in range(8)]
        total = sum(b)
        expect = sum(
            (1 << i) for i in range(8) if 8 * b[i] > total
        ) + sum((1 << (8 + i)) for i in range(8) if b[i] > b[(i + 1) % 8])
        grp = by_hash[expect]
        assert grp["n_copies"] >= 2
        assert grp["canonical_id"] <= r["doc_id"]


def test_audio_compressed_codec_guard():
    """Compressed audio mirrors the Pillow/PyAV layering: with soundfile
    importable a FLAC payload decodes for real; without it a non-WAV
    payload raises ValueError naming the missing optional dependency."""
    from consent_based_conversion_adjustments_spark.operators.multimodal import (
        _HAS_SOUNDFILE,
        decode_audio,
    )

    if not _HAS_SOUNDFILE:
        with pytest.raises(ValueError, match="soundfile"):
            decode_audio(b"OggS" + b"\x00" * 64)
        return
    import io

    import numpy as np
    import soundfile as sf

    buf = io.BytesIO()
    rate, n = 8000, 1600
    samples = 0.5 * np.sin(2 * np.pi * 440 * np.arange(n) / rate)
    sf.write(buf, samples, rate, format="FLAC")
    got_rate, got_n, feat = decode_audio(buf.getvalue())
    assert (got_rate, got_n) == (rate, n)
    assert len(feat) == 8 and all(f > 0.1 for f in feat)


def test_kmeans_separates_planted_blobs(spark):
    """Three well-separated blobs in 4-d: every blob lands in one
    cluster, distinct blobs in distinct clusters, assignment is
    deterministic across runs."""
    from consent_based_conversion_adjustments_spark.operators.cluster import (
        kmeans_assign,
    )

    rows = []
    for b, center in enumerate([[0.0, 0.0], [10.0, 10.0], [-10.0, 5.0]]):
        for i in range(12):
            # deterministic jitter in [-0.4, 0.4)
            j1 = ((i * 7) % 8) / 10.0 - 0.4
            j2 = ((i * 3) % 8) / 10.0 - 0.4
            rows.append(
                (b * 100 + i, [center[0] + j1, center[1] + j2, 1.0, -1.0])
            )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out1 = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(df, k=3, iters=4).collect()
    }
    out2 = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(df, k=3, iters=4).collect()
    }
    assert out1 == out2  # deterministic
    blobs = {}
    for vid, c in out1.items():
        blobs.setdefault(vid // 100, set()).add(c)
    assert all(len(cs) == 1 for cs in blobs.values())  # blob purity
    assert len({next(iter(cs)) for cs in blobs.values()}) == 3


def test_kmeans_empty_cluster_keeps_centroid(spark):
    """k larger than the number of distinct points: surplus clusters go
    empty and must keep their init centroid without crashing; every
    point still gets a valid assignment."""
    from consent_based_conversion_adjustments_spark.operators.cluster import (
        kmeans_assign,
    )

    rows = [(i, [float(i % 2), 0.0]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_assign(df, k=5, iters=2).collect()
    assert len(out) == 6
    assert all(0 <= r["cluster"] < 5 for r in out)
    assert len({r["cluster"] for r in out}) == 2  # two distinct points


def test_gram_covariance_matches_numpy(spark):
    import numpy as np

    from consent_based_conversion_adjustments_spark.operators.linalg import (
        covariance_fit,
    )

    rng = [
        [((i * 7 + d * 3) % 11) / 11.0 + (d % 2) * ((i % 5) / 5.0)
         for d in range(6)]
        for i in range(40)
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)],
        "vec_id long, embedding array<float>",
    )
    mean, cov, n = covariance_fit(df)
    x = np.array(rng, dtype=np.float32).astype(np.float64)
    assert n == 40
    assert np.allclose(mean, x.mean(axis=0), atol=1e-9)
    assert np.allclose(cov, np.cov(x, rowvar=False, bias=True), atol=1e-9)


def test_pca_project_matches_numpy_and_whitens(spark):
    import numpy as np

    from consent_based_conversion_adjustments_spark.operators.linalg import (
        pca_fit,
        pca_project,
    )

    # planted 2-factor structure in 5-d
    rows = []
    for i in range(60):
        a = ((i * 13) % 17) / 17.0 - 0.5
        b = ((i * 5) % 13) / 13.0 - 0.5
        rows.append(
            (i, [3 * a, 3 * a + 0.1 * b, b, -b + 0.05 * a, 0.01 * a])
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    mean, comps, vars_ = pca_fit(df, 2)
    assert vars_[0] >= vars_[1] > 0
    assert abs(float(np.dot(comps[0], comps[1]))) < 1e-8  # orthogonal
    out = pca_project(
        df, mean, comps, whiten_by=vars_, scale=9
    ).orderBy("vec_id")
    got = np.array([[r["pc0"], r["pc1"]] for r in out.collect()])
    x = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)
    want = (x - np.array(mean)) @ np.array(comps).T / np.sqrt(vars_)
    assert np.allclose(got, want, atol=1e-6)
    # whitened coords have unit variance
    assert np.allclose(got.var(axis=0), 1.0, atol=1e-6)


def test_pq_codes_compress_and_reconstruct(spark):
    """PQ sanity: codes are deterministic, bounded by k, and the
    codebook reconstruction error is well below the raw signal energy
    (quantization actually captures structure)."""
    import numpy as np

    from consent_based_conversion_adjustments_spark.operators.cluster import (
        kmeans_assign,
        pq_codes,
    )

    rng = [
        [((i * 11 + d * 5) % 17) / 17.0 for d in range(8)] for i in range(64)
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)],
        "vec_id long, embedding array<float>",
    )
    a = pq_codes(df, n_subspaces=4, k=4, iters=2).collect()
    b = pq_codes(df, n_subspaces=4, k=4, iters=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    codes = {r["vec_id"]: [r[f"code_{j}"] for j in range(4)] for r in a}
    assert all(0 <= c < 4 for cs in codes.values() for c in cs)

    # reconstruction: per-subspace centroid means of assigned members
    x = np.array(rng)
    err = 0.0
    for j in range(4):
        sub = x[:, j * 2 : j * 2 + 2]
        assign = np.array([codes[i][j] for i in range(64)])
        for c in set(assign):
            m = sub[assign == c].mean(axis=0)
            err += float(((sub[assign == c] - m) ** 2).sum())
    energy = float(((x - x.mean(axis=0)) ** 2).sum())
    assert err < 0.5 * energy


def test_pq_topk_recall_vs_exact(spark):
    """ADC shortlist recall against exact L2 on clustered data: with
    per-cluster structure the quantized distances must recover most of
    the true neighbors; also deterministic across runs."""
    import numpy as np

    from consent_based_conversion_adjustments_spark.operators.cluster import (
        pq_topk,
    )

    rows = []
    for i in range(160):
        blob = i % 4
        base = [(blob * 7 + d) % 5 * 2.0 for d in range(16)]
        jitter = [((i * 13 + d * 3) % 7) / 7.0 for d in range(16)]
        rows.append((i, [b + j for b, j in zip(base, jitter)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cands = df.select(F.col("vec_id").alias("cand_id"), "embedding")
    got = pq_topk(
        queries, cands, 10, n_subspaces=4, n_cents=8, iters=2
    ).collect()
    got2 = pq_topk(
        queries, cands, 10, n_subspaces=4, n_cents=8, iters=2
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, got2))

    x = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)
    recalls = []
    for q in [0, 40, 80, 120]:
        d = np.square(x - x[q]).sum(axis=1)
        d[q] = np.inf
        exact = set(np.argsort(d)[:10])
        approx = {r["cand_id"] for r in got if r["query_id"] == q}
        recalls.append(len(exact & approx) / 10)
    assert sum(recalls) / len(recalls) >= 0.5


def test_pq_topk_refuses_oversized_query_side(spark):
    """Guard (round-9 advice): pq_topk collects the query frame to the
    driver for ADC tables — a large probe set must refuse loudly, not
    materialize silently."""
    import pytest as _pytest

    from consent_based_conversion_adjustments_spark.operators.cluster import (
        pq_topk,
    )

    df = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % 5 + d).cast("float") for d in range(8)])
        .alias("embedding"),
    )
    queries = df.select(F.col("vec_id").alias("query_id"), "embedding")
    cands = df.select(F.col("vec_id").alias("cand_id"), "embedding")
    with _pytest.raises(ValueError, match="max_query_rows"):
        pq_topk(
            queries, cands, 5, n_subspaces=4, n_cents=4,
            max_query_rows=10,
        )
    # raising the ceiling deliberately still works
    assert (
        pq_topk(
            queries.limit(2), cands, 3, n_subspaces=4, n_cents=4,
            max_query_rows=10,
        ).count()
        > 0
    )
