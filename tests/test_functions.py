"""langid / perplexity / quality-heuristic unit tests (pandas level)."""

import os

import numpy as np
import pandas as pd
import pytest

from pii_redaction_data_pipeline_spark.config import PipelineConfig
from pii_redaction_data_pipeline_spark.datagen import (
    CLEAN_SENTENCES,
    NON_ENGLISH_SENTENCES,
)
from pii_redaction_data_pipeline_spark.functions.langid import langid_frame
from pii_redaction_data_pipeline_spark.functions.perplexity import default_model
from pii_redaction_data_pipeline_spark.functions.quality import (
    repetition_frac_series,
)

CFG = PipelineConfig()


def test_langid_english_pool():
    lid = langid_frame(pd.Series(list(CLEAN_SENTENCES)))
    # every clean sentence must pass the lang gate
    gated = (lid.lang != "en") & (lid.lang_conf >= CFG.lang_min_conf)
    assert not gated.any()


def test_langid_non_english_pool():
    lid = langid_frame(pd.Series(list(NON_ENGLISH_SENTENCES)))
    gated = (lid.lang != "en") & (lid.lang_conf >= CFG.lang_min_conf)
    assert gated.all(), lid[~gated]


def test_langid_empty_and_gibberish():
    lid = langid_frame(pd.Series(["", "zzqp brt krgl", None]))
    assert (lid.lang == "en").all()
    assert (lid.lang_conf == 0).all()


def test_ppl_separation():
    m = default_model()
    clean = [m.ppl(s) for s in CLEAN_SENTENCES]
    rng = np.random.default_rng(7)
    gib = [
        m.ppl(" ".join("".join(rng.choice(list("bcdfghjklmnpqrstvwxz"), size=6)) for _ in range(10)))
        for _ in range(20)
    ]
    assert max(clean) < CFG.max_ppl * 0.6, max(clean)
    assert min(gib) > CFG.max_ppl * 1.5, min(gib)


def test_ppl_short_neutral():
    m = default_model()
    assert m.ppl("") == 1.0
    assert m.ppl("a") < CFG.max_ppl  # single padded char scores low, never gates


def test_repetition_stat():
    rep = repetition_frac_series(
        pd.Series(
            [
                "the cat sat " * 12,
                "a perfectly normal sentence with no repeated trigrams at all",
                "one two",  # < 3 words
            ]
        )
    )
    assert rep.iloc[0] > CFG.max_top3gram_frac
    assert rep.iloc[1] <= CFG.max_top3gram_frac
    assert rep.iloc[2] == 0.0


# ---------------------------------------------------------------------------
# segmentation + greedy packing (reference backend/src/segment.py:82-114)
# ---------------------------------------------------------------------------


def test_break_sentence_fixed_width():
    from pii_redaction_data_pipeline_spark.functions.segment import break_sentence

    s = "abcdefghij"  # 10 chars
    assert break_sentence(s, 4) == ["abcd", "efgh", "ij"]
    assert break_sentence(s, 10) == ["abcdefghij"]
    assert break_sentence("", 4) == []


def test_pack_segments_reference_semantics():
    from pii_redaction_data_pipeline_spark.functions.segment import pack_segments

    # three sentences of 10 chars each (incl. trailing space), budget 25:
    # greedy pack -> first two together, third alone
    text = "aaaaaaaa. bbbbbbbb. cccccccc."
    segs = pack_segments(text, seg_len=25)
    assert segs == ["aaaaaaaa. bbbbbbbb. ", "cccccccc."]
    # coverage: concatenation reproduces the input exactly
    assert "".join(segs) == text
    # oversized sentence is hard-broken first
    segs2 = pack_segments("x" * 55, seg_len=20)
    assert "".join(segs2) == "x" * 55
    assert all(len(s) <= 20 for s in segs2)
    # reference quirk: empty input still yields one (empty) segment
    assert pack_segments("", seg_len=10) == [""]


def test_segment_udf_spark(spark):
    from pyspark.sql import functions as F

    from pii_redaction_data_pipeline_spark.functions.segment import (
        make_segment_udf,
        pack_segments,
    )

    texts = [
        "one sentence only.",
        "first part here. second part here. third bit much longer now.",
        "",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id int, text string")
    seg = make_segment_udf(seg_len=30)
    got = {r["id"]: r["segs"] for r in df.select("id", seg("text").alias("segs")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == pack_segments(t, 30), (i, got[i])


# ---------------------------------------------------------------------------
# fast-path parity: vectorized langid / ppl vs their reference scalar paths
# ---------------------------------------------------------------------------

LANGID_PARITY_TEXTS = [
    "the cat sat on the mat and it is fine",
    "le chat est dans la maison pour vous je crois",
    "der hund ist nicht mit dem ich ein zu haus",
    "el perro es que una por para con las usted",
    "il cane che di non per sono una con questo della",
    "una con",  # words shared between es and it (multi-language attribution)
    "",
    "   ",
    "no stop words here xyzzy plugh",
    "你好世界你好世界你好世界 hello",
    "Привет мир как дела сегодня",
    "mixed Привет the and is of to",
    "punctuation! the, and. is; of: to?",
    "l'est une affaire, n'est-ce pas? vous",
    "123 456 789 the",
    "\nthe\nand\n",
    "a" * 500 + " the and is",
]


def test_langid_fast_matches_reference():
    from pii_redaction_data_pipeline_spark.functions.langid import (
        langid_frame,
        langid_frame_reference,
    )

    s = pd.Series(LANGID_PARITY_TEXTS + [None])
    fast = langid_frame(s)
    ref = langid_frame_reference(s)
    assert list(fast["lang"]) == list(ref["lang"])
    np.testing.assert_allclose(
        fast["lang_conf"].to_numpy(), ref["lang_conf"].to_numpy(), rtol=0, atol=0
    )


def test_ppl_series_matches_scalar():
    m = default_model()
    texts = pd.Series(
        list(CLEAN_SENTENCES)
        + ["", "a", "ab", "  ", "ZZZZ@@@@!!!", "the the the", None, "x" * 2000]
    )
    vec = m.ppl_series(texts)
    # float32-pairwise-mean (scalar) vs float64-cumsum (vectorized): agree
    # to ~1e-7 relative; gate thresholds have 2x margins so 1e-5 is strict
    for i, t in enumerate(texts.fillna("")):
        assert abs(vec.iloc[i] - m.ppl(t)) <= 1e-5 * max(m.ppl(t), 1.0), (i, t[:40])


def test_pack_segments_coverage_property():
    """Property: segments always concatenate back to the exact input
    (nothing lost or duplicated), and no segment exceeds the budget
    unless a single unbreakable piece equals it."""
    from hypothesis import given, settings, strategies as st

    from pii_redaction_data_pipeline_spark.functions.segment import pack_segments

    @settings(max_examples=200, deadline=None)
    @given(
        st.text(
            alphabet=st.sampled_from(list("ab .!?\nXY")), min_size=0, max_size=400
        ),
        st.integers(min_value=1, max_value=50),
    )
    def prop(t, seg_len):
        segs = pack_segments(t, seg_len)
        assert "".join(segs) == t
        # hard bound: break_sentence caps every sentence at seg_len and
        # packing flushes before overflow, so no segment ever exceeds it
        assert all(len(s) <= seg_len for s in segs)

    prop()


def test_fasttext_frame_contract():
    """The fastText scoring path (used when a real lid.176 model is
    supplied) honors the (lang, lang_conf) contract — exercised with a
    model stub since the fasttext runtime is absent offline."""
    from pii_redaction_data_pipeline_spark.functions.langid import (
        fasttext_langid_frame,
    )

    class FakeModel:
        def predict(self, texts, k=1):
            labels, probs = [], []
            for t in texts:
                assert "\n" not in t  # fastText input contract
                if "bonjour" in t:
                    labels.append(("__label__fr",))
                    probs.append((0.97,))
                elif not t:
                    labels.append(())
                    probs.append(())
                else:
                    labels.append(("__label__en",))
                    probs.append((0.85,))
            return labels, probs

    s = pd.Series(["hello\nworld", "bonjour tout le monde", None])
    out = fasttext_langid_frame(s, FakeModel())
    assert list(out["lang"]) == ["en", "fr", "en"]
    assert list(out["lang_conf"]) == [0.85, 0.97, 0.0]


def test_make_langid_udf_requires_runtime_for_model():
    import pytest

    from pii_redaction_data_pipeline_spark.functions.langid import make_langid_udf

    with pytest.raises(ImportError):
        make_langid_udf(fasttext_model_path="/nonexistent/lid.176.ftz")


def test_text_stats_matches_jvm(spark):
    """text_stats_frame (the fused UDF's numpy single-pass) must equal
    the JVM expressions it replaced in the hot path — length(),
    regexp_count('\\S+'), translate-based symbol ratio — including ws-only,
    empty, unicode, and boundary-adjacent rows (rows are concatenated
    with no separator, so run-starts at row boundaries are the easy bug)."""
    from pyspark.sql import functions as F

    from pii_redaction_data_pipeline_spark.functions.quality import (
        n_words_col,
        symbol_ratio_col,
        text_stats_frame,
    )

    texts = [
        "",
        "   ",
        "\t\n\x0b\f\r",
        "hello world",
        "  leading",
        "trailing  ",
        "a",                       # 1-char rows back-to-back stress boundaries
        "b",
        " c",
        "d ",
        "under_score_123",
        "symbols!!! ###",
        "emoji 😀 and 中文字符 mixed",
        "tab\tsep\nlines\r\nhere",
        "a@b.io (555) 123-4567",
        "x" * 500,
        "né café ölü",              # non-ASCII letters are NOT \\w (Java ASCII)
    ]
    pdf = pd.DataFrame({"text": texts})
    got = text_stats_frame(pdf["text"])

    sdf = spark.createDataFrame(pdf).select(
        F.length("text").alias("n_chars"),
        n_words_col(F.col("text")).alias("n_words"),
        symbol_ratio_col(F.col("text")).alias("symbol_ratio"),
    )
    exp = sdf.toPandas()
    assert got["n_chars"].tolist() == exp["n_chars"].tolist()
    assert got["n_words"].tolist() == exp["n_words"].tolist()
    assert np.allclose(got["symbol_ratio"], exp["symbol_ratio"], atol=1e-12)


def test_independent_kn_table_matches_production():
    """The oracle's pure-Python KN re-derivation (__spark_entry__) must
    reproduce the production numpy table bit-for-bit: every reduction in
    the build is integer-valued (exact in both engines) and the
    element-wise float64 formula order is identical, so any difference
    is a real bug in one of the two builds."""
    import importlib.util

    import numpy as np

    from pii_redaction_data_pipeline_spark.functions.perplexity import (
        default_model,
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "spark_entry_kn", os.path.join(repo, "__spark_entry__.py")
    )
    se = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(se)
    logp, ids_of = se._independent_kn_logp()
    prod = default_model().logp
    assert logp.shape == prod.shape
    neq = int((logp != prod).sum())
    assert neq == 0, f"{neq} table entries differ"
    # scoring parity at e4 granularity on real corpus texts
    import duckdb
    import pandas as pd

    docs = "/root/testdata/sf0.001/documents.parquet"
    if not os.path.exists(docs):
        pytest.skip("driver testdata tree not present")
    texts = duckdb.sql(
        f"SELECT text FROM read_parquet('{docs}') ORDER BY doc_id"
    ).df()["text"].tolist()
    ind = se._independent_ppl(texts)
    prod_ppl = default_model().ppl_series(pd.Series(texts)).tolist()
    for i, (a, b) in enumerate(zip(ind, prod_ppl)):
        assert round(a * 10000) == round(b * 10000), (i, a, b)


class TestPngCodec:
    """Real-header path: the PNG IHDR parse wired through
    decode_image_meta, exercised against genuine PNG bytes generated
    in-test."""

    def _px(self, h, w):
        import numpy as np

        rng = np.random.default_rng(42)
        return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)

    def test_spark_decode_meta_real_branch(self, spark):
        """Genuine PNG bytes through decode_image_meta: codec must report
        'png' with the TRUE dimensions from the IHDR chunk."""
        import struct
        import zlib
        from binascii import crc32

        from pii_redaction_data_pipeline_spark.functions.png_codec import PNG_MAGIC
        from pii_redaction_data_pipeline_spark.operators.multimodal import (
            decode_image_meta,
        )

        def chunk(ctype, data):
            return (
                struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", crc32(ctype + data) & 0xFFFFFFFF)
            )

        def png(h, w):
            rows = self._px(h, w).reshape(h, w * 3)
            raw = b"".join(b"\x00" + r.tobytes() for r in rows)  # filter 0
            return (
                PNG_MAGIC
                + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
                + chunk(b"IDAT", zlib.compress(raw))
                + chunk(b"IEND", b"")
            )

        imgs = [(i, png(300 + 10 * i, 450 - 20 * i)) for i in range(4)]
        df = spark.createDataFrame(imgs, "doc_id long, media binary")

        meta = {r.doc_id: r for r in decode_image_meta(df).collect()}
        for i, _ in imgs:
            assert meta[i].codec == "png"
            assert (meta[i].width, meta[i].height) == (450 - 20 * i, 300 + 10 * i)

    def test_non_png_bytes_still_take_stub_branch(self, spark):
        """Non-image bytes (text cast to binary) must keep routing to
        the deterministic stub."""
        from pii_redaction_data_pipeline_spark.operators.multimodal import (
            attach_binary,
            decode_image_meta,
        )

        df = attach_binary(
            spark.createDataFrame([(1, "just text")], "doc_id long, text string")
        )
        row = decode_image_meta(df).first()
        assert row.codec == "stub"


def _make_jpeg(width: int, height: int) -> bytes:
    """Hand-built minimal JPEG: SOI + APP0(JFIF) + SOF0 + EOI. Enough
    marker structure for a dimension scan; no entropy data needed."""
    import struct

    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    sof0 = struct.pack(">BHH", 8, height, width) + b"\x03" + (
        b"\x01\x22\x00" + b"\x02\x11\x01" + b"\x03\x11\x01"
    )
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
        + b"\xff\xc0" + struct.pack(">H", len(sof0) + 2) + sof0
        + b"\xff\xd9"
    )


class TestJpegDims:
    def test_sof_scan(self):
        from pii_redaction_data_pipeline_spark.functions.png_codec import jpeg_dims

        assert jpeg_dims(_make_jpeg(640, 480)) == (640, 480)
        assert jpeg_dims(_make_jpeg(1, 1)) == (1, 1)

    def test_skips_dht_and_fill_bytes(self):
        """0xC4 (DHT) sits in the SOF range but is not a frame header;
        fill 0xFF bytes may pad between segments."""
        import struct

        from pii_redaction_data_pipeline_spark.functions.png_codec import jpeg_dims

        dht = b"\xff\xc4" + struct.pack(">H", 5) + b"\x00\x00\x00"
        sof0 = struct.pack(">BHH", 8, 77, 99) + b"\x01" + b"\x01\x22\x00"
        sof = b"\xff\xc0" + struct.pack(">H", len(sof0) + 2) + sof0
        buf = b"\xff\xd8" + dht + b"\xff" + sof + b"\xff\xd9"  # fill 0xFF before SOF
        assert jpeg_dims(buf) == (99, 77)

    def test_malformed_is_valueerror(self):
        import pytest

        from pii_redaction_data_pipeline_spark.functions.png_codec import jpeg_dims

        with pytest.raises(ValueError):
            jpeg_dims(b"\x00\x01")
        with pytest.raises(ValueError):
            jpeg_dims(b"\xff\xd8\xff\xd9")  # SOI + EOI, no SOF
        with pytest.raises(ValueError):
            jpeg_dims(b"\xff\xd8" + b"\xff\xda\x00\x04\x00\x00")  # SOS before SOF

    def test_spark_meta_real_jpeg_branch(self, spark):
        from pii_redaction_data_pipeline_spark.operators.multimodal import (
            decode_image_meta,
        )

        df = spark.createDataFrame(
            [(1, _make_jpeg(800, 600)), (2, _make_jpeg(32, 48))],
            "doc_id long, media binary",
        )
        meta = {r.doc_id: r for r in decode_image_meta(df).collect()}
        assert (meta[1].width, meta[1].height, meta[1].codec) == (800, 600, "jpeg")
        assert (meta[2].width, meta[2].height, meta[2].codec) == (32, 48, "jpeg")

    def test_truncated_fill_bytes_is_valueerror(self):
        """A stream ending inside 0xFF fill bytes must raise ValueError,
        not IndexError (uniform malformed-input contract)."""
        import pytest

        from pii_redaction_data_pipeline_spark.functions.png_codec import jpeg_dims

        with pytest.raises(ValueError):
            jpeg_dims(b"\xff\xd8\xff\xff")
        with pytest.raises(ValueError):
            jpeg_dims(b"\xff\xd8\xff")


class TestGopherRepetitionPanel:
    """dup_line_frac / dup_line_char_frac (JVM) + top_ngram_char_frac."""

    def test_top_ngram_series_hand_values(self):
        import pandas as pd

        from pii_redaction_data_pipeline_spark.functions.quality import (
            repetition_frac_series,
            top_ngram_char_frac_series,
        )

        t = pd.Series(["x y x y x y"])  # len 11
        assert top_ngram_char_frac_series(t, 2).iloc[0] == pytest.approx(9 / 11)
        # 3-gram ties (x,y,x) vs (y,x,y) resolve first-seen: 2 * 5 / 11
        assert top_ngram_char_frac_series(t, 3).iloc[0] == pytest.approx(10 / 11)
        assert top_ngram_char_frac_series(t, 4).iloc[0] == 1.0  # capped
        # the pipeline gate is exactly the n=3 panel entry
        assert repetition_frac_series(t).equals(top_ngram_char_frac_series(t, 3))
        short = pd.Series(["one two", ""])
        assert (top_ngram_char_frac_series(short, 3) == 0.0).all()

    def test_dup_line_fracs_jvm(self, spark):
        from pii_redaction_data_pipeline_spark.functions.quality import (
            with_repetition_columns,
        )

        df = spark.createDataFrame(
            [(1, "a b\na b\nc"), (2, "u\nv\nw"), (3, ""), (4, None),
             (5, "x\nx\nx\nyyyy")],
            ["doc_id", "text"],
        )
        rows = {
            r["doc_id"]: r
            for r in with_repetition_columns(df, ns=(2,)).collect()
        }
        # excess-occurrence semantics (find_duplicates): the first copy
        # of "a b" is content, the second is duplication -> 3 chars of 9
        # total (len(text), newlines included)
        assert rows[1]["dup_line_frac"] == pytest.approx(1 / 3)
        assert rows[1]["dup_line_char_frac"] == pytest.approx(3 / 9)
        assert rows[2]["dup_line_frac"] == 0.0
        assert rows[2]["dup_line_char_frac"] == 0.0
        # empty text -> one empty line, no duplicates, zero chars
        assert rows[3]["dup_line_frac"] == 0.0
        assert rows[3]["dup_line_char_frac"] == 0.0
        # NULL text coerces to '' — never a NULL fraction that would
        # silently escape a threshold comparison
        assert rows[4]["dup_line_frac"] == 0.0
        assert rows[4]["dup_line_char_frac"] == 0.0
        # triple occurrence charges TWO excess copies: 2 of 10 chars
        assert rows[5]["dup_line_frac"] == pytest.approx(2 / 4)
        assert rows[5]["dup_line_char_frac"] == pytest.approx(2 / 10)

    def test_panel_is_one_arrow_stage(self, spark):
        """All three n-gram UDF columns must batch into a single
        ArrowEvalPython stage, and the line fractions must stay out of
        Python entirely."""
        from pii_redaction_data_pipeline_spark.functions.quality import (
            with_repetition_columns,
        )

        df = spark.createDataFrame([(1, "a b\na b")], ["doc_id", "text"])
        plan = (
            with_repetition_columns(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("ArrowEvalPython") == 1, plan[:1500]


def test_decode_image_meta_custom_id_col(spark):
    """Arrow assigns mapInPandas output columns BY NAME; a caller's
    non-default id_col must be relabeled to the schema's doc_id or every
    task crashes on the name mismatch (round-5 review finding)."""
    from pii_redaction_data_pipeline_spark.operators.multimodal import (
        decode_image_meta,
    )

    df = spark.createDataFrame(
        [(7, bytearray(b"\x89PNG\r\n\x1a\nnot-really"))],
        "image_id long, media binary",
    )
    rows = decode_image_meta(df, id_col="image_id").collect()
    assert len(rows) == 1 and rows[0].doc_id == 7 and rows[0].n_bytes == 18


def test_ru_confidence_clipped_to_probability():
    """Cyrillic-share conf counts every U+0400-04FF codepoint in the
    numerator but only letters in the denominator, so it could exceed
    1.0 (e.g. a run of U+0482 thousands signs); the (lang, conf)
    contract promises a fastText-style probability (round-5 review)."""
    import pandas as pd

    from pii_redaction_data_pipeline_spark.functions.langid import (
        langid_frame,
        langid_frame_reference,
    )

    s = pd.Series(["҂" * 10, "привет как дела сегодня"])
    for fn in (langid_frame, langid_frame_reference):
        out = fn(s)
        assert list(out["lang"]) == ["ru", "ru"]
        assert (out["lang_conf"] <= 1.0).all(), fn.__name__


def test_entities_prefilter_derives_from_scrub_triggers():
    """The candidate-row prescan must derive from scrub._TRIGGERS, not a
    hand-copied literal list: a pattern whose trigger the prescan cannot
    express (None) disables the prefilter so no row is skipped (round-5
    review finding: a new PII pattern would silently desync entities
    from scrub_counts)."""
    import re as _re

    import pandas as pd

    from pii_redaction_data_pipeline_spark.functions import entities, scrub

    fake_idx = len(scrub.PATTERNS)
    scrub._COMPILED.append(("TESTTYPE", _re.compile("zqxptn"), False))
    scrub._TRIGGERS[fake_idx] = None
    try:
        out = entities.entities_frame(pd.Series(["hello zqxptn world"]))
        assert [e["type"] for e in out.iloc[0]] == ["TESTTYPE"]
    finally:
        scrub._COMPILED.pop()
        del scrub._TRIGGERS[fake_idx]


def test_entities_prefilter_off_for_unknown_trigger_kind(monkeypatch):
    """A trigger kind the prescan does not know (here a future
    'colon-digit') must disable the prefilter like None does: every row
    is scanned, including rows no known trigger would select."""
    import pandas as pd

    from pii_redaction_data_pipeline_spark.functions import entities, scrub

    monkeypatch.setattr(
        scrub, "_TRIGGERS", {**scrub._TRIGGERS, len(scrub.PATTERNS): "colon-digit"}
    )
    scanned = []
    real = entities.extract_entities_value

    def spy(text):
        scanned.append(text)
        return real(text)

    monkeypatch.setattr(entities, "extract_entities_value", spy)
    texts = ["plain words only", "no triggers here either", "mail a@b.co"]
    entities.entities_frame(pd.Series(texts))
    assert scanned == texts

