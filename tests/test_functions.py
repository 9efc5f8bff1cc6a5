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


def test_annotate_calls_share_one_logp_broadcast(spark, tiny):
    """Every sc.broadcast leaves a ~470 KB file in the context's temp dir
    until the context stops, and annotate builds its UDF once per call
    (once per micro-batch in a stream): repeated calls must reuse one
    broadcast per model, not add a file each."""
    from pii_redaction_data_pipeline_spark.plans.pipeline import annotate

    temp_dir = spark.sparkContext._temp_dir
    src = spark.read.parquet(tiny[0])
    before = set(os.listdir(temp_dir))
    for _ in range(4):
        annotate(src, PipelineConfig(), spark)
    added = set(os.listdir(temp_dir)) - before
    assert len(added) <= 1, sorted(added)


class TestGopherRepetitionPanel:
    """top_ngram_char_frac, the Gopher repetition signal the fused UDF
    gates on (n=3)."""

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
        # the pipeline gate is exactly the n=3 case
        assert repetition_frac_series(t).equals(top_ngram_char_frac_series(t, 3))
        short = pd.Series(["one two", ""])
        assert (top_ngram_char_frac_series(short, 3) == 0.0).all()


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


def test_pattern_row_carries_its_own_prefilter(monkeypatch):
    """A pattern appended to scrub.PATTERNS with its own prefilter needs
    no other change: scrub_frame masks it and entities_frame finds it
    (round-5 review finding: a new PII pattern must not desync entities
    from scrub_counts). entities_frame scans only the rows that some
    prefilter selects."""
    import re as _re

    import pandas as pd

    from pii_redaction_data_pipeline_spark.functions import entities, scrub

    def has_zq(s):
        return s.str.contains("zq", regex=False).to_numpy()

    new_row = ("TESTTYPE", _re.compile(r"\bzq[a-z]+"), False, has_zq)
    monkeypatch.setattr(scrub, "PATTERNS", scrub.PATTERNS + (new_row,))
    texts = ["hello zqxptn world", "plain words only", "no triggers here", "mail a@b.co"]

    out = scrub.scrub_frame(pd.Series(texts))
    assert list(out["scrubbed_text"]) == [
        "hello [REDACTED TESTTYPE] world", texts[1], texts[2], "mail [REDACTED EMAIL]",
    ]
    assert list(out["scrub_counts"]) == [{"TESTTYPE": 1}, {}, {}, {"EMAIL": 1}]

    scanned = []
    real = entities.extract_entities_value

    def spy(text):
        scanned.append(text)
        return real(text)

    monkeypatch.setattr(entities, "extract_entities_value", spy)
    ents = entities.entities_frame(pd.Series(texts))
    assert [[e["type"] for e in row] for row in ents] == [["TESTTYPE"], [], [], ["EMAIL"]]
    assert scanned == [texts[0], texts[3]]

