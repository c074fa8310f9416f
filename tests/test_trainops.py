"""Training-data pipeline operators: dedup family, similarity search,
text analysis, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tippecanoe_spark import dedup as dedupmod
from tippecanoe_spark import similarity as simmod
from tippecanoe_spark import textops


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy cat", "en"),  # near-dup of 0
        (2, "der hund und die katze sind ein team mit den", "de"),
        (3, "completely different words entirely here now then", "en"),
        (4, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 0
        (5, "le chat est dans la maison et le jardin pour", "fr"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


class TestDedup:
    def test_exact_dedup(self, spark, docs):
        kept = dedupmod.exact_dedup(docs)
        ids = {r["doc_id"] for r in kept.collect()}
        assert 0 in ids and 4 not in ids and len(ids) == 5

    def test_duplicate_groups(self, docs):
        g = dedupmod.duplicate_groups(docs, F.col("text")).collect()
        assert len(g) == 1 and g[0]["n_dups"] == 2 and g[0]["keeper_id"] == 0

    def test_ngram_jaccard_pairs(self, docs):
        pairs = dedupmod.ngram_jaccard_pairs(docs, threshold=0.5).collect()
        got = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (0, 4) in got  # identical → jaccard 1.0
        assert (0, 1) in got  # near-dup
        jac = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
        assert jac[(0, 4)] == 1.0
        assert 0.5 <= jac[(0, 1)] < 1.0

    def test_minhash_finds_neardups(self, docs):
        pairs = dedupmod.minhash_dedup_pairs(docs, threshold=0.5).collect()
        got = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (0, 4) in got and (0, 1) in got
        # dissimilar docs absent
        assert not any(3 in p for p in got)

    def test_simhash_exact_dup_distance_zero(self, docs):
        sigs = dedupmod.simhash_signatures(docs)
        pairs = dedupmod.simhash_near_pairs(sigs, max_hamming=0).collect()
        assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 4)}


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        rng = np.random.default_rng(3)
        vecs = rng.standard_normal((40, 8))
        vecs[7] = vecs[3] * 2.0  # same direction as 3 → cosine 1
        rows = [(int(i), [float(v) for v in vecs[i]]) for i in range(40)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_brute_topk_matches_numpy(self, emb):
        out = simmod.brute_topk(emb, emb.filter(F.col("vec_id") == 3), k=1).collect()
        assert out[0]["neighbor_id"] == 7
        assert out[0]["cosine"] == pytest.approx(1.0, abs=1e-5)

    def test_brute_topk_k_rows_per_probe(self, emb):
        probes = emb.filter(F.col("vec_id") < 5)
        out = simmod.brute_topk(emb, probes, k=3)
        counts = out.groupBy("probe_id").count().collect()
        assert all(r["count"] == 3 for r in counts) and len(counts) == 5

    def test_lsh_buckets_deterministic(self, emb):
        b1 = {r["id"]: r["bucket"] for r in simmod.hyperplane_buckets(emb, 8, dim=8).collect()}
        b2 = {r["id"]: r["bucket"] for r in simmod.hyperplane_buckets(emb, 8, dim=8).collect()}
        assert b1 == b2
        assert b1[3] == b1[7]  # co-directional vectors share every hyperplane side

    def test_cosine_near_dup_finds_planted(self, emb):
        pairs = simmod.cosine_near_dup_pairs(emb, threshold=0.99, n_planes=4, dim=8).collect()
        assert (3, 7) in {(r["id_a"], r["id_b"]) for r in pairs}


class TestTextOps:
    def test_detect_language(self, docs):
        out = {r["doc_id"]: r["pred"] for r in docs.select(
            "doc_id", textops.detect_language(F.col("text")).alias("pred")
        ).collect()}
        assert out[0] == "en" and out[2] == "de" and out[5] == "fr"
        assert out[3] == "und"  # no stopword evidence

    def test_quality_score_bounds(self, docs):
        scores = [r["q"] for r in docs.select(textops.quality_score(F.col("text")).alias("q")).collect()]
        assert all(0.0 <= s <= 1.0 for s in scores)

    def test_token_stats(self, docs):
        st = textops.token_stats(docs).filter(F.col("doc_id") == 0).collect()[0]
        assert st["n_tokens"] == 9
        assert st["n_distinct_tokens"] == 8  # 'the' twice

    def test_fingerprint_stable_and_discriminating(self, spark, docs):
        fp = textops.with_fingerprint(docs).select("doc_id", "fingerprint").collect()
        vals = {r["doc_id"]: r["fingerprint"] for r in fp}
        assert vals[0] == vals[4]  # identical text, identical fingerprint
        assert vals[0] != vals[1]

    def test_bpe_ish_pieces_exceed_words(self, spark):
        df = spark.createDataFrame([("hello,world 42x",)], "text string")
        n = df.select(textops.bpe_ish_token_count(F.col("text")).alias("n")).collect()[0]["n"]
        assert n == 5  # ['hello', ',', 'world', '42', 'x'] — pinned to
        # catch regex regressions


class TestMediaCodecs:
    """Pure-stdlib codec round trips (media_codecs.py)."""

    def test_png_roundtrip_and_filters(self):
        import struct
        import zlib

        import numpy as np

        from tippecanoe_spark import media_codecs as mc

        rng = np.random.default_rng(5)
        px = rng.integers(0, 256, (13, 17, 3)).astype(np.uint8)
        assert (mc.decode_png(mc.encode_png(px)) == px).all()
        g = rng.integers(0, 256, (9, 5)).astype(np.uint8)
        assert (mc.decode_png(mc.encode_png(g))[:, :, 0] == g).all()

        # hand-craft a PNG using every filter type (our encoder only
        # emits filter 0; real-world PNGs use 1-4)
        h, w, ch = 5, 6, 3
        pix = rng.integers(0, 256, (h, w, ch)).astype(np.uint8)
        raw = bytearray()
        prev = np.zeros(w * ch, dtype=np.int64)
        for r, ftype in enumerate([0, 1, 2, 3, 4]):
            row = pix[r].reshape(-1).astype(np.int64)
            f = row.copy()
            for i in range(w * ch):
                left = row[i - ch] if i >= ch else 0
                up = prev[i]
                ul = prev[i - ch] if i >= ch else 0
                if ftype == 1:
                    f[i] = (row[i] - left) % 256
                elif ftype == 2:
                    f[i] = (row[i] - up) % 256
                elif ftype == 3:
                    f[i] = (row[i] - ((left + up) >> 1)) % 256
                elif ftype == 4:
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
                    f[i] = (row[i] - pred) % 256
            raw.append(ftype)
            raw += bytes(f.astype(np.uint8))
            prev = row

        def chunk(tag, payload):
            return (
                struct.pack(">I", len(payload)) + tag + payload
                + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
            )

        data = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )
        import warnings

        with warnings.catch_warnings():
            # the unfilter must wrap its sums itself, not overflow uint8
            warnings.simplefilter("error", RuntimeWarning)
            assert (mc.decode_png(data) == pix).all()

    def test_bmp_ppm_wav_roundtrip(self):
        import numpy as np

        from tippecanoe_spark import media_codecs as mc

        rng = np.random.default_rng(7)
        px = rng.integers(0, 256, (10, 7, 3)).astype(np.uint8)
        assert (mc.decode_bmp(mc.encode_bmp(px)) == px).all()
        fr = [rng.integers(0, 256, (6, 7)).astype(np.uint8) for _ in range(3)]
        out = mc.decode_ppm_frames(b"".join(mc.encode_ppm(f) for f in fr))
        assert len(out) == 3 and all((a == b).all() for a, b in zip(out, fr))
        s = (np.sin(np.arange(1600) * 0.1) * 12000).astype(np.int16)
        d, rate = mc.decode_wav(mc.encode_wav(s, 8000))
        assert rate == 8000 and len(d) == 1600
        assert abs(float(d[10]) * 32768 - float(s[10])) < 1.5


class TestMultimodal:
    def test_real_decode_recovers_planted_dims(self, spark):
        """synthetic_media writes REAL PNG/BMP/WAV/raw-PPM payloads;
        decode_media recovers the planted dimensions from the bytes."""
        from tippecanoe_spark import multimodal

        media = multimodal.synthetic_media(spark, 40, partitions=2)
        rows = {r["media_id"]: r for r in multimodal.decode_media(media).collect()}
        assert len(rows) == 40
        for i in range(40):
            p = multimodal._synth_params(i)
            r = rows[i]
            assert (r["width"], r["height"]) == (p["w"], p["h"]), i
            exp_frames = (
                p["frames"] if p["kind"] == "video"
                else (1 if p["kind"] == "image" else 0)
            )
            assert r["n_frames"] == exp_frames and r["duration_ms"] == p["ms"], i
            assert len(r["feature"]) == 16

    def test_decode_stub_raises_without_fake(self, spark):
        from tippecanoe_spark import multimodal

        media = multimodal.synthetic_media(spark, 5, partitions=1)
        with pytest.raises(Exception, match="NotImplementedError|media codecs"):
            multimodal.decode_stub(media, fake=False).collect()

    def test_decode_media_strict_raises_on_unknown_format(self, spark):
        from tippecanoe_spark import multimodal

        df = spark.createDataFrame(
            [(0, "image", bytearray(b"\xff\xd8\xff JPEG-ish"), None)],
            multimodal.MEDIA_SCHEMA,
        )
        with pytest.raises(Exception, match="NotImplementedError|no codec"):
            multimodal.decode_media(df, strict=True).collect()
        assert multimodal.decode_media(df, strict=False).collect() == []

    def test_frame_sample_and_resize_real(self, spark):
        from tippecanoe_spark import media_codecs as mc
        from tippecanoe_spark import multimodal

        media = multimodal.synthetic_media(spark, 40, partitions=2)
        frames = multimodal.frame_sample(media, every_n=2).collect()
        assert frames and all(r["frame_index"] % 2 == 0 for r in frames)
        # every video with >=2 frames contributes ceil(frames/2) rows
        vids = [i for i in range(40) if i % 4 == 3]
        want = sum((multimodal._synth_params(i)["frames"] + 1) // 2 for i in vids)
        assert len(frames) == want
        resized = multimodal.resize_media(media, max_side=16).collect()
        assert resized
        for r in resized:
            assert max(r["target_width"], r["target_height"]) <= 16
            px = mc.decode_png(bytes(r["resized"]))
            assert px.shape[:2] == (r["target_height"], r["target_width"])
