"""Unit tests: text-analysis pandas UDFs + multimodal plumbing stubs."""

import pytest
from pyspark.sql import functions as F

from illumio_spark.functions import text as TX
from illumio_spark.functions import multimodal as MM


@pytest.fixture(scope="module")
def langs(spark):
    rows = [
        (0, "the cat and the dog of the house is happy", "en"),
        (1, "der Hund und die Katze ist nicht da und der Mann", "de"),
        (2, "le chat est sur la table et il ne dort pas", "fr"),
        (3, "el perro y la casa que es de los vecinos", "es"),
        (4, "这是一个中文句子 完全没有空格标记", "zh"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_lang_guess(langs):
    out = langs.withColumn("pred", TX.lang_guess(F.col("text"))).collect()
    for r in out:
        assert r.pred == r.lang, f"doc {r.doc_id}: {r.pred} != {r.lang}"


def test_quality_and_tokens(spark):
    df = spark.createDataFrame([(0, "Hello, world! This is six words.")], "id long, text string")
    row = df.select(
        TX.token_count(F.col("text")).alias("n"),
        TX.bpe_ish_token_count(F.col("text")).alias("nb"),
        *[c.alias(k) for k, c in TX.quality_columns(F.col("text")).items()],
    ).collect()[0]
    assert row.n == 6
    assert row.nb == 9  # 6 words + comma + bang + period
    assert row.n_chars == 32
    assert row.punct_ratio == round(3 / 32, 6)


def test_rolling_fingerprint_deterministic(spark):
    df = spark.createDataFrame(
        [(0, "same text"), (1, "same text"), (2, "different text")], "id long, text string"
    )
    out = {r.id: r.fp for r in df.select("id", TX.rolling_fingerprint(F.col("text")).alias("fp")).collect()}
    assert out[0] == out[1] != out[2]


def _png(w, h):
    import struct

    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
            + struct.pack(">II", w, h) + b"\x08\x06\x00\x00\x00" + b"\x00" * 8)


def _gif(w, h):
    import struct

    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 6


def _jpeg(w, h):
    import struct

    # SOI + APP0 segment + SOF0 frame header + EOI
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", h, w) + b"\x03" + b"\x00" * 9
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def _wav(sample_rate, channels):
    import struct

    fmt = struct.pack("<IHHIIHH", 16, 1, channels, sample_rate,
                      sample_rate * channels * 2, channels * 2, 16)
    return b"RIFF" + struct.pack("<I", 36) + b"WAVE" + b"fmt " + fmt + b"data\x00\x00\x00\x00"


def test_media_meta_real_headers(spark):
    rows = [
        (0, bytearray(_png(640, 480))),
        (1, bytearray(_gif(320, 200))),
        (2, bytearray(_jpeg(1920, 1080))),
        (3, bytearray(_wav(44100, 2))),
        (4, bytearray(b"not a media file at all, just text bytes")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in MM.media_meta(df).collect()}
    assert (out[0].media_format, out[0].width, out[0].height) == ("png", 640, 480)
    assert (out[1].media_format, out[1].width, out[1].height) == ("gif", 320, 200)
    assert (out[2].media_format, out[2].width, out[2].height) == ("jpeg", 1920, 1080)
    assert (out[3].media_format, out[3].sample_rate, out[3].channels) == ("wav", 44100, 2)
    assert out[4].media_format == "unknown" and out[4].width is None
    assert all(out[i].n_bytes == len(rows[i][1]) for i in range(5))


def test_png_roundtrip_all_filters():
    """Encode→decode must be identity for every PNG scanline filter type —
    the decoder's unfilter paths (None/Sub/Up/Average/Paeth) all exercised."""
    w, h = 7, 10  # 10 rows → default filter cycle hits 0..4 twice
    pixels = [(x * 13 + 7) % 256 for x in range(w * h)]
    for rf in [None, lambda y: 0, lambda y: 1, lambda y: 2, lambda y: 3, lambda y: 4]:
        b = MM.encode_png_gray8(w, h, pixels, row_filter=rf)
        assert MM.decode_png_gray8(b) == pixels


def test_wav_roundtrip():
    samples = [((k * 7919) % 65536) - 32768 for k in range(101 * 2)]
    b = MM.encode_wav_pcm16(samples, sample_rate=16000, channels=2)
    assert MM.decode_wav_pcm16(b) == samples
    fmt, vals = MM.decode_values(b)
    assert fmt == "wav" and vals == samples


def test_decode_values_corrupt_and_unknown():
    assert MM.decode_values(b"just some text bytes") == ("unknown", None)
    # a header-only GIF with no image block is a corrupt payload
    with pytest.raises(ValueError):
        MM.decode_values(_gif(10, 10))
    # the _jpeg fixture is header-only (SOF but no scan data): corrupt
    with pytest.raises(ValueError):
        MM.decode_values(_jpeg(10, 10))


def test_jpeg_constant_blocks_roundtrip_exactly():
    # constant 8×8 blocks have only a DC coefficient, which survives q=1
    # quantization exactly — the lossy format becomes exactly checkable
    w, h = 24, 16
    vals = [((y // 8) * 3 + (x // 8) * 7 + 13) % 256 for y in range(h) for x in range(w)]
    j = MM.encode_jpeg_gray8(w, h, vals)
    assert MM.decode_values(j) == ("jpeg", vals)


def test_jpeg_arbitrary_image_near_lossless_at_q1():
    import random

    random.seed(3)
    w, h = 19, 13  # non-multiple-of-8 dims exercise edge padding
    vals = [random.randrange(256) for _ in range(w * h)]
    dec = MM.decode_jpeg_gray8(MM.encode_jpeg_gray8(w, h, vals))
    assert len(dec) == len(vals)
    # q=1 keeps every DCT coefficient; the only error is float rounding
    assert max(abs(a - b) for a, b in zip(dec, vals)) <= 1


def test_resize_images_df(spark):
    # decode(any format) → bilinear resample → PNG re-encode, end to end
    # through the Spark surface; constant images resize EXACTLY
    png = MM.encode_png_gray8(8, 6, [40] * 48)
    gif = MM.encode_gif_gray8(10, 4, [200] * 40)
    # two constant 8×8 blocks side by side (left 7, right 250): exact decode
    jpg = MM.encode_jpeg_gray8(16, 8, ([7] * 8 + [250] * 8) * 8)
    wav = MM.encode_wav_pcm16([1, 2, 3], 8000, 1)
    df = spark.createDataFrame(
        [(0, bytearray(png)), (1, bytearray(gif)), (2, bytearray(jpg)),
         (3, bytearray(wav)), (4, None)],
        "doc_id long, payload binary",
    )
    out = {r.doc_id: r for r in MM.resize_images(df, 4, 4).collect()}
    assert (out[0].out_width, out[0].out_height) == (4, 4)
    assert MM.decode_png_gray8(bytes(out[0].resized_png)) == [40] * 16
    assert MM.decode_png_gray8(bytes(out[1].resized_png)) == [200] * 16
    # the jpeg is two constant half-images: every resized row is [7,7,250,250]
    assert MM.decode_png_gray8(bytes(out[2].resized_png)) == [7, 7, 250, 250] * 4
    assert out[3].media_format == "wav" and out[3].resized_png is None
    assert out[4].media_format is None and out[4].resized_png is None


def test_animated_gif_frame_sampling(spark):
    # REAL video-style frame extraction: multi-frame GIF → every-Nth frame
    # re-encoded as a standalone PNG, 1→many explode through mapInPandas
    frames = [[(f * 37 + p) % 256 for p in range(8 * 6)] for f in range(6)]
    anim = MM.encode_gif_anim(8, 6, frames)
    still = MM.encode_png_gray8(4, 4, [1] * 16)  # non-GIF: contributes no rows
    df = spark.createDataFrame(
        [(0, bytearray(anim)), (1, bytearray(still)), (2, None)],
        "doc_id long, payload binary",
    )
    out = MM.sample_gif_frames(df, every_n=2).orderBy("doc_id", "frame_idx").collect()
    assert [(r.doc_id, r.frame_idx) for r in out] == [(0, 0), (0, 2), (0, 4)]
    for r in out:
        assert MM.decode_png_gray8(bytes(r.frame_png)) == frames[r.frame_idx]


def test_audio_features_known_signals(spark):
    import math

    sr = 8000
    # pure 1 kHz sine, one second: centroid ≈ 1000 Hz, zcr ≈ 2·f/sr
    sine = [int(10000 * math.sin(2 * math.pi * 1000 * t / sr)) for t in range(sr)]
    # constant positive DC: zero crossings = 0, centroid ≈ 0 (all energy in DC)
    dc = [5000] * 1000
    wav_sine = MM.encode_wav_pcm16(sine, sr, 1)
    wav_dc = MM.encode_wav_pcm16(dc, sr, 1)
    png = MM.encode_png_gray8(2, 2, [1, 2, 3, 4])
    df = spark.createDataFrame(
        [(0, bytearray(wav_sine)), (1, bytearray(wav_dc)), (2, bytearray(png))],
        "doc_id long, payload binary",
    )
    out = {r.doc_id: r for r in MM.audio_features(df).collect()}
    assert out[0].sample_rate == sr and out[0].n_samples == sr
    assert abs(out[0].spectral_centroid_hz - 1000) < 25
    assert abs(out[0].zcr - 2 * 1000 / sr) < 0.01
    assert abs(out[0].rms - 10000 / math.sqrt(2)) < 100
    assert out[1].zcr == 0.0 and out[1].spectral_centroid_hz < 50
    assert out[2].rms is None and out[2].sample_rate is None


def test_jpeg_rejects_unsupported_variants():
    j = MM.encode_jpeg_gray8(8, 8, list(range(64)))
    progressive = j.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(NotImplementedError):
        MM.decode_jpeg_gray8(progressive)


def test_color_jpeg_roundtrips():
    import random

    random.seed(11)
    w, h = 19, 13
    y = [random.randrange(256) for _ in range(w * h)]
    cb = [random.randrange(256) for _ in range(w * h)]
    cr = [random.randrange(256) for _ in range(w * h)]
    # 4:4:4 at q=1: every plane within float rounding of the input
    j = MM.encode_jpeg_ycbcr(w, h, y, cb, cr, subsample="444")
    W, H, Y, CB, CR = MM.decode_jpeg_ycbcr(j)
    assert (W, H) == (w, h)
    for got, want in ((Y, y), (CB, cb), (CR, cr)):
        assert max(abs(a - b) for a, b in zip(got, want)) <= 1
    # 4:2:0: chroma planes ride at half resolution through 16×16 MCUs
    cw, ch = (w + 1) // 2, (h + 1) // 2
    cb2 = [random.randrange(256) for _ in range(cw * ch)]
    cr2 = [random.randrange(256) for _ in range(cw * ch)]
    j2 = MM.encode_jpeg_ycbcr(w, h, y, cb2, cr2, subsample="420")
    W, H, Y2, CB2, CR2 = MM.decode_jpeg_ycbcr(j2)
    assert len(Y2) == w * h and len(CB2) == cw * ch
    assert max(abs(a - b) for a, b in zip(CB2, cb2)) <= 1
    # constant macroblocks decode EXACTLY; decode_values returns the luma
    w3, h3 = 32, 16
    y3 = [((x // 16) + 2 * (yy // 16)) * 40 % 256 for yy in range(h3) for x in range(w3)]
    c3 = [100] * ((w3 // 2) * (h3 // 2))
    j3 = MM.encode_jpeg_ycbcr(w3, h3, y3, c3, c3, subsample="420")
    assert MM.decode_jpeg_ycbcr(j3)[2] == y3
    assert MM.decode_values(j3) == ("jpeg", y3)
    # a gray decode call on a color file points at the color API
    with pytest.raises(NotImplementedError):
        MM.decode_jpeg_gray8(j3)
    assert MM.ycbcr_to_rgb(128, 128, 128) == (128, 128, 128)


def test_gif_lzw_roundtrip_and_handbuilt_stream():
    import random

    random.seed(7)
    # round-trip through every code width (9→12 bit) and the overflow CLEAR
    data = bytes([random.randrange(256) for _ in range(20000)])
    assert MM._lzw_decode_gif(MM._lzw_encode_gif(data, 8), 8) == data
    # KwKwK self-reference case
    runs = b"a" * 50
    assert MM._lzw_decode_gif(MM._lzw_encode_gif(runs, 8), 8) == runs

    # encoder-independent: hand-built literal-code stream (spec convention)
    bw = MM._LZWBitWriter()
    bw.write(256, 9)  # CLEAR
    for p in [10, 20, 30, 10, 20]:
        bw.write(p, 9)
    bw.write(257, 9)  # END
    assert MM._lzw_decode_gif(bw.finish(), 8) == bytes([10, 20, 30, 10, 20])


def test_gif_container_roundtrip_with_extension_skip():
    vals = [(i * 11 + 3) % 256 for i in range(37 * 23)]
    g = MM.encode_gif_gray8(37, 23, vals)
    assert MM.decode_gif_gray(g) == vals
    assert MM.decode_values(g) == ("gif", vals)
    # inject a comment-extension block before the image descriptor:
    # the decoder must skip its sub-blocks (13-byte header + 768-byte GCT)
    g2 = g[: 13 + 768] + b"\x21\xfe\x05hello\x00" + g[13 + 768 :]
    assert MM.decode_gif_gray(g2) == vals


def test_decode_stats_df(spark):
    pixels = list(range(12))
    png = MM.encode_png_gray8(4, 3, pixels)
    wav = MM.encode_wav_pcm16([100, -100, 50], 8000, 1)
    df = spark.createDataFrame(
        [(0, bytearray(png)), (1, bytearray(wav)), (2, None)],
        "doc_id long, payload binary",
    )
    out = {r.doc_id: r for r in MM.decode_stats(df).collect()}
    assert (out[0].media_format, out[0].n_values, out[0].val_sum) == ("png", 12, sum(pixels))
    assert (out[1].media_format, out[1].n_values, out[1].val_sum) == ("wav", 3, 50)
    assert out[1].val_mean == pytest.approx(50 / 3, abs=1e-6)
    assert out[2].media_format is None and out[2].n_values is None


def test_bigram_lm_scores_rank_fluent_above_shuffled(spark):
    import math

    from illumio_spark.functions.text import bigram_lm_scores

    fluent = "the cat sat on the mat and the cat sat on the mat again"
    rows = [(i, fluent) for i in range(20)]            # in-distribution docs
    rows.append((100, "mat the on sat cat the"))        # shuffled transitions
    rows.append((101, fluent))                          # another fluent doc
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in bigram_lm_scores(df).collect()}
    # fluent text scores strictly higher than shuffled-token text
    assert out[101].avg_log2_prob > out[100].avg_log2_prob
    # hand-check one probability: corpus has 21 fluent docs; P('cat'|'the')
    # with alpha=0.1: c(the,cat)=2*21, c(the)=4*21... verify via a 1-doc corpus
    one = spark.createDataFrame([(0, "a b a b")], "doc_id long, text string")
    r = bigram_lm_scores(one, alpha=0.5).collect()[0]
    # tokens: a b a b → V=2; bigrams: (a,b)x2, (b,a)x1
    # P(b|a)=(2+.5)/(2+1)=0.8333; P(a|b)=(1+.5)/(2+1)=0.5
    want = (2 * math.log2(2.5 / 3) + math.log2(1.5 / 3)) / 3
    assert abs(r.avg_log2_prob - want) < 1e-9 and r.n_bigrams == 3


def test_scrub_pii_and_counts(spark):
    text = ("contact john.doe+x@example.co.uk or 192.168.1.200, "
            "ssn 123-45-6789, call +1(555)123-4567 please")
    df = spark.createDataFrame([(0, text)], "id long, text string")
    row = df.select(
        TX.scrub_pii(F.col("text")).alias("clean"),
        *[c.alias(k) for k, c in TX.pii_counts(F.col("text")).items()],
    ).collect()[0]
    assert "[EMAIL]" in row.clean and "[IPV4]" in row.clean
    assert "[SSN]" in row.clean and "[PHONE]" in row.clean
    assert "example" not in row.clean and "6789" not in row.clean
    assert (row.n_email, row.n_ssn, row.n_ipv4, row.n_phone) == (1, 1, 1, 1)
    # clean text passes through untouched
    clean = spark.createDataFrame([(0, "no sensitive data here")], "id long, text string")
    assert clean.select(TX.scrub_pii(F.col("text")).alias("c")).first().c == "no sensitive data here"


def test_repetition_signals(spark):
    rows = [
        (0, "unique one\nunique two\nunique three"),            # no repetition
        (1, "spam line\nspam line\nspam line\nspam line"),       # all dup lines
        (2, "buy now " * 20),                                    # one dominant bigram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in TX.repetition_signals(df).collect()}
    assert out[0].dup_line_frac == 0.0
    assert out[1].dup_line_frac == 0.75  # 4 lines, 1 distinct → 3/4 repeats
    assert out[2].top_bigram_frac > 0.4  # 'now buy'/'buy now' dominate
    assert out[0].top_bigram_frac < 0.3


def test_c4_quality_signals(spark):
    rows = [
        (0, "This is a clean page. It has sentences. All lines end well.\n"
            "Another proper line ends here."),
        (1, "function f() { return 1; }"),                 # code brace
        (2, "Lorem Ipsum dolor sit amet. Filler. Text."),  # placeholder
        (3, "no sentences no punctuation at all"),          # <3 sentences
        (4, None),                                          # null text
        (5, "!!! ??? ... --- === +++ ### $$$ %%% ^^^"),     # no alpha words
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in TX.c4_quality_signals(df).collect()}
    assert out[0].c4_keep is True
    assert out[0].frac_lines_end_punct == 1.0
    assert out[0].n_sentences >= 3
    assert out[1].has_curly_brace and out[1].c4_keep is False
    assert out[2].has_lorem_ipsum and out[2].c4_keep is False
    assert out[3].n_sentences == 0 and out[3].c4_keep is False
    assert out[4].c4_keep is False and out[4].n_sentences is None
    assert out[5].frac_alpha_words == 0.0 and out[5].c4_keep is False


def test_all_wrappers_survive_corrupt_payloads(spark):
    """One corrupt payload per format must degrade to a null/absent row in
    EVERY mapInPandas wrapper — never abort the job (the resize_images
    per-row-guard contract, extended to decode_stats / audio_features /
    sample_gif_frames in r5)."""
    good_gif = MM.encode_gif_gray8(3, 2, [1, 2, 3, 4, 5, 6])
    corrupt = [
        (0, b"\x89PNG\r\n\x1a\n" + b"\x00" * 30),          # PNG, no IHDR body
        (1, b"GIF89a" + b"\x05\x00\x04\x00" + b"\xff" * 8), # GIF, garbage blocks
        (2, b"\xff\xd8\xff\xdb\x00\x02"),                   # JPEG, truncated DQT
        (3, b"RIFF" + b"\x24\x00\x00\x00" + b"WAVE" + b"fmt " + b"\x00" * 20),
        (4, good_gif),                                      # control row
    ]
    df = spark.createDataFrame(corrupt, "doc_id long, payload binary")

    st = {r.doc_id: r for r in MM.decode_stats(df).collect()}
    assert len(st) == 5
    assert all(st[i].n_values is None for i in range(4))
    assert st[4].n_values == 6 and st[4].val_sum == 21

    af = {r.doc_id: r for r in MM.audio_features(df).collect()}
    assert len(af) == 5 and af[3].rms is None

    fr = MM.sample_gif_frames(df).collect()
    assert {r.doc_id for r in fr} == {4}  # only the valid GIF yields frames

    rz = {r.doc_id: r for r in MM.resize_images(df, 2, 2, "nearest").collect()}
    assert len(rz) == 5 and rz[4].resized_png is not None
