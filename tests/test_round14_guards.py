"""Round-14 optimization guards: Catalyst fake decoders == Python
stubs, and deterministic sampled IVF quantizer training. The r14
lifetime guards live in ``test_materialize.py``."""

import hashlib

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_fake_decoders_match_python_stubs(spark):
    """The Catalyst fake decode paths (sha2 + conv expressions) must be
    value-identical to the Python stub decoders they replaced."""
    from photon_ml_spark.operators import multimodal as mm

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
    payloads = mm.attach_payload(docs)
    rows = {
        r.doc_id: r for r in mm.decode_image(payloads, fake=True).collect()
    }
    arows = {
        r.doc_id: r for r in mm.decode_audio(payloads, fake=True).collect()
    }
    vrows = {
        r.doc_id: r for r in mm.decode_video(payloads, fake=True).collect()
    }
    for r in payloads.collect():
        p = bytes(r.payload)
        w, h, luma = mm._fake_decode(p)
        got = rows[r.doc_id]
        assert (got.width, got.height) == (w, h)
        assert got.mean_luma == luma and got.decode_ok
        sr, ns, rms = mm._fake_audio_decode(p)
        ga = arows[r.doc_id]
        assert (ga.sample_rate, ga.n_samples, ga.rms) == (sr, ns, rms)
        vw, vh, fps, nf, vl = mm._fake_video_decode(p)
        gv = vrows[r.doc_id]
        assert (gv.width, gv.height, gv.fps, gv.n_frames) == (vw, vh, fps, nf)
        assert gv.mean_luma == vl
        assert gv.duration_sec == nf / fps
    # and no Python-eval node anywhere in the fake plans
    for d in (
        mm.decode_image(payloads, fake=True),
        mm.decode_audio(payloads, fake=True),
        mm.decode_video(payloads, fake=True),
    ):
        plan = d._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan and "MapInPandas" not in plan
    # a NULL payload: the fake paths read it as the real ones do
    # (zeros, decode_ok=False), never NULL metrics with decode_ok=True
    null = spark.createDataFrame(
        [(7, None, "image/fake")], "doc_id long, payload binary, media_type string"
    )
    for decode in (mm.decode_image, mm.decode_audio, mm.decode_video):
        fake = decode(null, fake=True).collect()
        real = decode(null, fake=False).collect()
        assert fake == real, decode.__name__
        assert fake[0].decode_ok is False


def test_ivf_sampled_training_is_deterministic_and_covers_corpus(spark, tmp_path):
    """save_ivf_index's sampled quantizer training: deterministic
    (same corpus + seed -> identical centroids), assignment covers
    every row, and full probe stays exactly brute force."""
    from photon_ml_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = []
    for d in ("i1", "i2"):
        idx = str(tmp_path / d)
        # tiny threshold forces the sampled path on this 500-row corpus
        similarity.save_ivf_index(
            emb, idx, k=4, train_sample=200,
        )
        cents.append(
            sorted(
                tuple(r.centroid)
                for r in spark.read.parquet(f"{idx}/centroids").collect()
            )
        )
    assert cents[0] == cents[1]
    vecs = spark.read.parquet(str(tmp_path / "i1") + "/vectors")
    assert vecs.count() == emb.count()  # every row assigned
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    full = similarity.ivf_topk_from_index(
        spark, str(tmp_path / "i1"), queries, k=5, n_probe=4
    )
    brute = similarity.cosine_topk(emb, queries, k=5)
    a = {(r.query_id, r.rank): (r.vec_id, r.cosine) for r in full.collect()}
    b = {(r.query_id, r.rank): (r.vec_id, r.cosine) for r in brute.collect()}
    assert a == b
