"""Multimodal plumbing (llm/multimodal.py): the decoder is injectable —
the deterministic stub is only the default — so the production path
(real codec) and the test path share every piece of Spark plumbing.
Oracle parity for the registered queries lives in test_queries_oracle;
this file pins the injection seam itself.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from spark_lever_spark.llm.multimodal import (
    attach_binary_payload,
    decode_image_batch,
    decode_media,
)


def _docs(spark):
    return spark.createDataFrame(
        [(1, "hello world"), (2, "a longer document body here")],
        ["doc_id", "text"],
    )


def test_decoder_is_injectable(spark):
    calls = {"n": 0}

    def fake_decoder(payloads: pd.Series) -> pd.DataFrame:
        # a stand-in "real codec": constant dims, count invocations
        calls["n"] += 1
        n = len(payloads)
        return pd.DataFrame(
            {
                "byte_len": pd.array([7] * n, dtype="int32"),
                "width": pd.array([1920] * n, dtype="int32"),
                "height": pd.array([1080] * n, dtype="int32"),
                "n_frames": pd.array([1] * n, dtype="int32"),
            }
        )

    payloads = attach_binary_payload(_docs(spark))
    rows = decode_media(payloads, decoder=fake_decoder).collect()
    assert {r.doc_id for r in rows} == {1, 2}
    assert all(r.width == 1920 and r.height == 1080 for r in rows)
    # executed on workers — driver-side counter must be untouched,
    # proving the decoder ran inside mapInPandas, not on the driver
    assert calls["n"] == 0


def test_default_stub_matches_payload_arithmetic(spark):
    payloads = attach_binary_payload(_docs(spark))
    rows = decode_media(payloads, decoder=decode_image_batch).collect()
    by_id = {r.doc_id: r for r in rows}
    lens = {r.doc_id: r.byte_len for r in payloads.select(
        "doc_id", F.col("media_meta.byte_len").alias("byte_len")).collect()}
    for doc_id, n in lens.items():
        r = by_id[doc_id]
        assert (r.byte_len, r.width, r.height, r.n_frames) == (
            n, n % 640 + 1, n % 480 + 1, n % 16 + 1
        )


def test_pgm_decoder_is_real_and_fail_loud():
    """The NetPBM decoder must actually parse the byte stream: valid
    P5 payloads round-trip exact header dims + pixel sums; corrupt
    magic/raster must RAISE (a stub that derives stats from length
    would pass garbage silently)."""
    import numpy as np
    import pandas as pd
    import pytest as _pytest

    from spark_lever_spark.llm.multimodal import decode_pgm_batch, encode_pgm

    buf = encode_pgm(37)
    out = decode_pgm_batch(pd.Series([buf]))
    w, h = 37 % 16 + 4, 37 % 12 + 4
    assert (out["width"][0], out["height"][0]) == (w, h)
    i = np.arange(w * h, dtype=np.int64)
    assert out["pixel_sum"][0] == int(((37 * 31 + i * 7) % 256).sum())
    with _pytest.raises(ValueError):
        decode_pgm_batch(pd.Series([b"JFIF" + buf[4:]]))
    with _pytest.raises(ValueError):
        decode_pgm_batch(pd.Series([buf[:-5]]))  # truncated raster


def test_wav_decoder_is_real_and_fail_loud():
    import numpy as np
    import pandas as pd
    import pytest as _pytest

    from spark_lever_spark.llm.multimodal import decode_wav_batch, encode_wav

    buf = encode_wav(91)
    out = decode_wav_batch(pd.Series([buf]))
    n = 91 % 200 + 50
    assert out["sample_rate"][0] == 8000
    assert out["n_samples"][0] == n
    i = np.arange(n, dtype=np.int64)
    s = ((91 * 131 + i * 17) % 2048) - 1024
    assert out["sample_sum"][0] == int(s.sum())
    assert out["peak_amplitude"][0] == int(np.abs(s).max())
    with _pytest.raises(ValueError):
        decode_wav_batch(pd.Series([b"OggS" + buf[4:]]))
    with _pytest.raises(ValueError):
        decode_wav_batch(pd.Series([buf[:-3]]))  # truncated samples


def test_bmp_decoder_fails_loud_on_corrupt_stream():
    import pandas as pd
    import pytest

    from spark_lever_spark.llm.multimodal import decode_bmp_batch, encode_bmp

    with pytest.raises(ValueError):
        decode_bmp_batch(pd.Series([b"XX not a bmp"]))
    good = encode_bmp(7)
    with pytest.raises(ValueError):  # truncated raster
        decode_bmp_batch(pd.Series([good[:-4]]))


def test_bmp_decoder_honors_bottom_up_and_stride():
    """A flat read of the raster (ignoring the bottom-up flip) yields
    a different top-row sum — the decoder must report the LOGICAL top
    row, which is the LAST stored row."""
    import numpy as np
    import pandas as pd

    from spark_lever_spark.llm.multimodal import decode_bmp_batch, encode_bmp

    doc_id = 11  # w = 11 % 13 + 4 = 15 (odd stride -> padding), h = 5
    out = decode_bmp_batch(pd.Series([encode_bmp(doc_id)]))
    w = doc_id % 13 + 4
    idx = np.arange(w, dtype=np.int64)  # logical top row: idx 0..w-1
    expect = int(((doc_id * 29 + idx * 11) % 256).sum())
    assert int(out["top_row_r_sum"][0]) == expect


def test_au_decoder_fails_loud_and_big_endian():
    import pandas as pd
    import pytest

    from spark_lever_spark.llm.multimodal import decode_au_batch, encode_au

    with pytest.raises(ValueError):
        decode_au_batch(pd.Series([b"RIFFnotau..."]))
    good = encode_au(9)
    with pytest.raises(ValueError):  # odd/truncated data
        decode_au_batch(pd.Series([good[:-1]]))
    # big-endian check: sample 0 of doc 9 is (9*13) % 2003 - 1001 = -884;
    # a little-endian misread of 0xFC8C != -884
    out = decode_au_batch(pd.Series([good]))
    assert int(out["n_samples"][0]) == 9 % 50 + 10


def test_every_netpbm_and_wav_reader_validates_its_input():
    """Every batch reader of NetPBM or WAV payloads parses through the
    one strict parser: a wrong maxval, a truncated raster or a
    truncated sample block raises in each of them."""
    import pandas as pd
    import pytest

    from spark_lever_spark.llm import multimodal as mm

    pgm, ppm, wav = mm.encode_pgm(37), mm.encode_ppm(37), mm.encode_wav(91)
    bad_images = {
        b"P5": [pgm.replace(b"\n255\n", b"\n254\n", 1), pgm[:-5]],
        b"P6": [ppm.replace(b"\n255\n", b"\n254\n", 1), ppm[:-5]],
    }
    readers = {
        b"P5": [mm.decode_pgm_batch, mm.mean_pool_2x_batch, mm.pgm_histogram_batch],
        b"P6": [mm.decode_ppm_batch],
    }
    for magic, fns in readers.items():
        for fn in fns:
            fn(pd.Series([pgm if magic == b"P5" else ppm]))
            for bad in bad_images[magic]:
                with pytest.raises(ValueError):
                    fn(pd.Series([bad]))
    for fn in (mm.decode_wav_batch, mm.silence_runs_batch, mm.wav_energy_batch):
        fn(pd.Series([wav]))
        for bad in (wav[:-3], wav[:22] + b"\x02" + wav[23:]):  # 2 channels
            with pytest.raises(ValueError):
                fn(pd.Series([bad]))
