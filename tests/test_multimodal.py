"""Multimodal plumbing: resize + frame-sample kernels over the
deterministic fake decode (real math, codec boundary stubbed)."""

import hashlib
import math

import numpy as np
import pytest

from closure_html_spark.spark import multimodal as M

SF = "/root/testdata/sf0.001"


def test_resize_identity_at_native_dims(spark, monkeypatch):
    """Resizing to the native (meta.width, meta.height) is the identity
    index map: resized_sha equals the sha of the tiled source matrix and
    mean_px its exact mean.  Verified independently in numpy for the
    first rows."""
    media = M.media_from_documents(spark, SF).limit(6)
    rows = media.collect()
    for r in rows:
        w, h = r.meta.width, r.meta.height
        monkeypatch.setattr(M, "RESIZE_W", w)
        monkeypatch.setattr(M, "RESIZE_H", h)
        got = M.resize_media(
            media.filter(f"media_id = {r.media_id}")).collect()[0]
        px = M._fake_pixels(bytes(r.payload), w, h)
        assert got.resized_sha == hashlib.sha256(px.tobytes()).hexdigest()
        assert got.mean_px == pytest.approx(float(px.mean()))


def test_resize_known_tiny_case():
    """2x2 nearest-neighbor downsample of a hand-built 4x4 matrix."""
    px = M._fake_pixels(bytes(range(16)), 4, 4)
    yi = (np.arange(2) * 4) // 2
    xi = (np.arange(2) * 4) // 2
    rs = px[yi][:, xi]
    # index map picks rows/cols 0 and 2 -> values [[0,2],[8,10]]
    assert rs.tolist() == [[0, 2], [8, 10]]


def test_frame_sample_one_row_per_sampled_frame(spark, monkeypatch):
    """Video rows explode to ceil(n_frames / k) output rows with the
    deterministic per-index digests; non-video rows contribute none."""
    media = M.media_from_documents(spark, SF)
    k = 5
    monkeypatch.setattr(M, "FRAME_EVERY_K", k)
    got = M.frame_sample(media).toPandas()
    vids = media.filter("mime = 'fake/video'").collect()
    expected = sum(math.ceil(r.meta.n_frames / k) for r in vids)
    assert len(got) == expected > 0
    r0 = vids[0]
    mine = got[got.media_id == r0.media_id].sort_values("frame_idx")
    assert list(mine.frame_idx) == list(range(0, r0.meta.n_frames, k))
    assert mine.iloc[0].frame_sha == hashlib.sha256(
        bytes(r0.payload) + (0).to_bytes(4, "big")).hexdigest()


def test_degenerate_meta_isolated_per_row(spark):
    """Round-6 ADVICE: one row with width/height 0 or NULL n_frames must
    emit an error-marker row, not kill the whole Arrow batch -- the
    extract_pages never-kill-the-batch convention."""
    media = M.media_from_documents(spark, SF).limit(4)
    bad = media.withColumn(
        "meta",
        M.F.when(
            M.F.col("doc_id") == 1,
            M.F.struct(M.F.lit(0).cast("int").alias("width"),
                       M.F.lit(0).cast("int").alias("height"),
                       M.F.lit(None).cast("int").alias("n_frames"),
                       M.F.lit(16000).cast("int").alias("sample_rate")))
        .otherwise(M.F.col("meta")))
    got = M.resize_media(bad).toPandas().set_index("doc_id")
    assert len(got) == 4  # every row survives
    assert got.loc[1].err is not None and "error:" in got.loc[1].err
    assert got.loc[1].resized_sha is None
    ok = got.drop(index=1)
    assert ok.err.isna().all() and ok.resized_sha.notna().all()

    vids = bad.filter("mime = 'fake/video'")  # doc_id 2 (healthy) only
    frames = M.frame_sample(vids).toPandas()
    assert (frames.err.isna()).all()
    # now break the video row's n_frames: one marker row, batch survives
    broken = vids.withColumn(
        "meta", M.F.struct(
            M.F.col("meta.width"), M.F.col("meta.height"),
            M.F.lit(None).cast("int").alias("n_frames"),
            M.F.col("meta.sample_rate")))
    got2 = M.frame_sample(broken).toPandas()
    assert len(got2) == 1 and got2.iloc[0].frame_idx == -1
    assert "error:" in got2.iloc[0].err


def test_real_codec_honestly_stubbed(spark):
    """A non-fake mime must fail loudly at the codec boundary, not
    silently fake-decode."""
    media = (M.media_from_documents(spark, SF).limit(1)
             .withColumn("mime", M.F.lit("image/png")))
    with pytest.raises(Exception) as ei:
        M.resize_media(media).collect()
    assert "NotImplementedError" in str(ei.value) or \
        isinstance(ei.value, NotImplementedError)


def test_media_phash_banding_exact_and_capped(spark, monkeypatch):
    """The banded hamming join must return EXACTLY the brute-force
    hamming<=1 pair set (pigeonhole: <=1 differing bit leaves one 4-bit
    band identical) under the default MAX_BUCKET, and a small MAX_BUCKET
    must bound in-bucket pair blowup while keeping lowest-media_id
    members."""
    import duckdb

    from closure_html_spark.spark import relational as R
    from closure_html_spark.spark.multimodal import (
        q_media_phash_neardup, _media_phash_oracle_sql)
    SF = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF}/documents.parquet')")
    # brute force: all image pairs, exact hamming over the same hash
    brute = set(map(tuple, con.execute("""
WITH img AS (SELECT doc_id * 10 AS media_id, sha256(text) AS dg
             FROM documents WHERE doc_id % 3 = 0),
k AS (SELECT media_id, """ + ", ".join(
        f"CAST(from_hex(substring(dg, {i*2+1}, 2))::BIT AS BIGINT) AS k{i}"
        for i in range(8)) + " FROM img),\n" + """
h AS (SELECT media_id, CAST(""" + " + ".join(
        f"(CASE WHEN k{i} * 8 > ({' + '.join(f'k{j}' for j in range(8))}) "
        f"THEN {1 << i} ELSE 0 END)" for i in range(8)) + """ AS BIGINT)
        AS ph FROM k)
SELECT a.media_id, b.media_id
FROM h a JOIN h b ON a.media_id < b.media_id
WHERE bit_count(xor(a.ph, b.ph)) <= 1""").fetchall()))
    banded = {(r["id_a"], r["id_b"])
              for r in q_media_phash_neardup(spark, SF).collect()}
    assert banded == brute, (len(banded), len(brute))
    monkeypatch.setattr(R, "MAX_BUCKET", 5)
    capped = q_media_phash_neardup(spark, SF).collect()
    assert len(capped) < len(banded)
    # kept members must be the lowest media_ids of each bucket: every
    # capped pair must also be in the uncapped set
    assert {(r["id_a"], r["id_b"]) for r in capped} <= banded

