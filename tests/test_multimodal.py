"""Multimodal plumbing: the stubbed codec boundary and the perceptual
hash near-dup join."""

import pytest

from closure_html_spark.spark import multimodal as M

SF = "/root/testdata/sf0.001"


def test_real_codec_honestly_stubbed(spark):
    """A non-fake mime must fail loudly at the codec boundary, not
    silently fake-decode."""
    media = (M.media_from_documents(spark, SF).limit(1)
             .withColumn("mime", M.F.lit("image/png")))
    with pytest.raises(Exception) as ei:
        M.decode_media(media).collect()
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

