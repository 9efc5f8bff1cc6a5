"""Dedup-operator family: simhash's vectorized word hashing pinned against
a scalar reference, LSH/simhash recall vs the exact ngram-jaccard ground
truth, and the hot-shingle df_cap guard."""

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pii_redaction_data_pipeline_spark.operators.dedup import (
    _POLY_B,
    _word_hashes,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)


def _ref_poly(s: str) -> int:
    """Scalar reference of the polynomial hash the vectorized path must
    reproduce exactly: H(s) = sum (cp_i + 1) * B^(n-1-i) mod 2^64."""
    h = 0
    for ch in s:
        h = (h * _POLY_B + ord(ch) + 1) & 0xFFFFFFFFFFFFFFFF
    return h


CASES = [
    "the quick brown fox jumps over the lazy dog",
    "one two",
    "single",
    "",
    "   \t\n ",
    "a  b\t c \n d e f g a b c",
    "Ünïcode wörds ärë fine too 日本語 テスト mixed 42",
]


@pytest.mark.parametrize("text", CASES)
def test_word_hashes_match_scalar_reference(text):
    got = [int(x) for x in _word_hashes(text)]
    assert got == [_ref_poly(w) for w in text.lower().split()]


def _docs_df(spark):
    """Synthetic corpus with planted near-dups: 0/1 and 2/3 near-identical,
    the rest unrelated."""
    base = (
        "the quick brown fox jumps over the lazy dog while the rain "
        "falls softly on the quiet green meadow near the old stone bridge"
    )
    rows = [
        (0, base),
        (1, base + " tonight"),  # near-dup of 0
        (2, "customers order parts from suppliers across several regions "
            "and every order ships with a tracked invoice number attached "
            "to the parcel manifest record"),
        (3, "customers order parts from suppliers across several regions "
            "and every order ships with a tracked invoice number attached "
            "to the parcel manifest record today"),  # near-dup of 2
        (4, "completely different text about spark catalyst optimizer "
            "plans predicate pushdown and whole stage code generation"),
        (5, "yet another unrelated document mentioning embeddings vectors "
            "cosine similarity and locality sensitive hashing buckets"),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_minhash_lsh_recalls_exact_pairs(spark):
    docs = _docs_df(spark)
    truth = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert truth == {(0, 1), (2, 3)}
    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    }
    assert got == truth


def test_minhash_jaccard_values_match_exact(spark):
    """The array_intersect-verified jaccard equals the explode-join
    jaccard."""
    docs = _docs_df(spark)
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    }
    for pair, j in lsh.items():
        assert abs(j - exact[pair]) < 1e-6


def test_minhash_words_split_like_ngram_jaccard(spark):
    """minhash_lsh_pairs and ngram_jaccard_pairs share one word
    definition: only ASCII whitespace splits, so a no-break space
    (U+00A0) or an em space (U+2003) stays inside a word for both, and
    the two operators report the same pairs with the same jaccard."""
    base = (
        "the quick brown fox\u00a0jumps over the lazy dog while the rain "
        "falls\u2003softly on the quiet green meadow"
    )
    other = (
        "customers\u2003order parts from suppliers across several regions "
        "and every\u00a0order ships with a tracked invoice"
    )
    rows = [
        (0, base),
        (1, base + " tonight"),
        (2, other),
        (3, other.replace("tracked", "signed")),
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.5, df_cap=None).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    }
    assert set(exact) == {(0, 1), (2, 3)}
    assert lsh == exact


def test_simhash_finds_near_identical(spark):
    docs = _docs_df(spark)
    got = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(docs, max_hamming=8).collect()
    }
    assert {(0, 1), (2, 3)} <= got
    # unrelated docs stay apart at a tight radius
    assert (4, 5) not in {
        (r.id_a, r.id_b)
        for r in simhash_pairs(docs, max_hamming=3).collect()
    }


def test_ngram_df_cap_bounds_pathological_corpus(spark):
    """A corpus-wide boilerplate shingle would make the self-join
    quadratic; the df_cap drops it from pair generation."""
    boiler = "this exact legal disclaimer appears in every single document"
    rows = [(i, f"{boiler} unique tail {i} {i * 7} {i * 13}") for i in range(40)]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    # cap below the boilerplate's document frequency: only the boiler
    # shingles are shared, so no pairs survive pair generation at all
    capped = ngram_jaccard_pairs(docs, threshold=0.01, df_cap=10)
    assert capped.count() == 0
    # without the cap the same corpus generates all 40*39/2 pairs
    uncapped = ngram_jaccard_pairs(docs, threshold=0.01, df_cap=None)
    assert uncapped.count() == 40 * 39 // 2


def test_ngram_df_cap_default_transparent_on_normal_corpus(spark):
    docs = _docs_df(spark)
    a = ngram_jaccard_pairs(docs, threshold=0.5, df_cap=None).collect()
    b = ngram_jaccard_pairs(docs, threshold=0.5).collect()  # default cap
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_empty_and_null_text_signatures(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2], "text": ["", None, "hello world"]})
    )
    # must not raise; empty/null texts produce the '' shingle and never
    # pair with real docs at any positive threshold
    assert minhash_lsh_pairs(docs, jaccard_threshold=0.5).count() <= 1
    assert simhash_pairs(docs, max_hamming=0).count() <= 1


# --- conversation-level turn-granularity identity --------------------------


def _conv_df(spark, convs: dict[str, list[str]]):
    rows = [
        (cid, i, t)
        for cid, turns in convs.items()
        for i, t in enumerate(turns)
    ]
    return spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])


def test_conversation_turn_shingles_counts_and_fallback(spark):
    from pyspark.sql import functions as F

    from pii_redaction_data_pipeline_spark.operators.dedup import (
        conversation_turn_shingles,
    )

    df = _conv_df(
        spark,
        {
            "long": [f"turn {i}" for i in range(10)],  # 8 distinct 3-grams
            "short": ["a", "b"],  # < k -> one whole-sequence shingle
            "rep": ["x", "x", "x", "x", "x"],  # 3 positions, 1 DISTINCT gram
        },
    )
    # two turns sharing a turn_idx: the fingerprint breaks the tie, so
    # row order cannot change the shingles
    tie = [("tie", 0, "p"), ("tie", 1, "q"), ("tie", 1, "r"), ("tie", 2, "s")]
    df = df.union(spark.createDataFrame(tie, df.schema))
    out = {r.conv_id: r for r in conversation_turn_shingles(df).collect()}
    assert len(out["long"].shingles) == 8 and out["long"].n_turns == 10
    assert len(out["short"].shingles) == 1 and out["short"].n_turns == 2
    assert len(out["rep"].shingles) == 1
    # the short conversation's one shingle hashes its whole sequence
    fp = {t: F.xxhash64(F.lit(t)) for t in "abpqrs"}
    (short,) = spark.range(1).select(F.xxhash64(fp["a"], fp["b"])).first()
    assert out["short"].shingles == [short]

    def grams(order):
        row = spark.range(1).select(
            *[F.xxhash64(*[fp[t] for t in order[i : i + 3]]) for i in range(2)]
        ).first()
        return sorted(row)

    assert out["tie"].n_turns == 4
    (fq, fr) = spark.range(1).select(fp["q"], fp["r"]).first()
    want = grams("pqrs" if fq <= fr else "prqs")
    assert sorted(out["tie"].shingles) == want
    reordered = df.filter("conv_id = 'tie'").orderBy(F.desc("text")).coalesce(1)
    (again,) = conversation_turn_shingles(reordered).collect()
    assert sorted(again.shingles) == want


def test_seeded_minhash_components_are_independent(spark):
    """The signature conversation_turn_shingles emits: a seed that
    failed to vary per component would collapse every component to one
    value and read any prefix-sharing pair's jaccard as 0 or 1.
    Components must (a) differ from each other within one signature and
    (b) agree between two similar conversations at roughly the true
    jaccard rate; (c) it equals _seeded_minhash_sig_agg over the
    exploded shingles."""
    from pyspark.sql import functions as F

    from pii_redaction_data_pipeline_spark.operators.dedup import (
        N_HASHES,
        _seeded_minhash_sig_agg,
        conversation_turn_shingles,
    )

    base = [f"turn number {i}" for i in range(40)]
    df = _conv_df(spark, {"orig": base, "clone": base[:-6]})
    sh = conversation_turn_shingles(df)
    rows = {r.conv_id: r for r in sh.collect()}
    a, b = rows["orig"].sig, rows["clone"].sig
    assert len(a) == len(b) == N_HASHES
    assert len(set(a)) > 32, "components within one signature must differ"
    matches = sum(x == y for x, y in zip(a, b))
    # true jaccard = 32/38 ~ 0.84; 64 components, stderr ~ 0.046 -> the
    # match count must sit WELL inside (all-different, all-equal)
    assert 40 <= matches < 64
    agg = (
        sh.select("conv_id", F.explode("shingles").alias("s"))
        .groupBy("conv_id")
        .agg(_seeded_minhash_sig_agg("s").alias("sig"))
    )
    assert {r.conv_id: r.sig for r in agg.collect()} == {"orig": a, "clone": b}


def test_turn_granularity_separates_boilerplate_heavy_convs(spark):
    """The redesign's motivating case: conversations assembled from a
    tiny shared sentence pool have word-3-gram jaccard high enough to
    flood word-level LSH with candidates, but share no 3 consecutive
    identical TURNS — turn-granular identity must return exactly the
    planted clone pair and nothing else."""
    import itertools

    from pii_redaction_data_pipeline_spark.operators.dedup import (
        conversation_neardup_pairs,
    )

    pool = [f"stock sentence {i} about the same boilerplate topic" for i in range(6)]
    # every turn ends in a unique step marker so turn fingerprints never
    # collide (no accidental periodicity), while the word population
    # stays almost entirely the shared stock phrasing
    streams = {
        f"conv{j}": [
            pool[(i * (j + 2) + j) % 6] + " " + pool[(i + j) % 6] + f" step {j}-{i}"
            for i in range(30)
        ]
        for j in range(6)
    }
    streams["conv0-dup"] = streams["conv0"][:-3]  # planted near-clone
    pairs = conversation_neardup_pairs(
        _conv_df(spark, streams), jaccard_threshold=0.6
    ).collect()
    assert {(p.conv_a, p.conv_b) for p in pairs} == {("conv0", "conv0-dup")}
    assert pairs[0].jaccard == pytest.approx(25 / 28, abs=1e-6)


class TestSimhashBanding:
    """Round-3 VERDICT item: the fixed 4x16-bit chunk banding was
    quadratic-within-bucket at scale. The replacement is multi-table
    combination banding over DISTINCT signatures; these tests pin its
    recall guarantee and its skew behavior."""

    def _sig_df(self, spark, sigs):
        import pandas as pd

        return spark.createDataFrame(
            pd.DataFrame(
                {"id": range(len(sigs)), "sh": [int(s) for s in sigs]}
            ).astype({"sh": "int64"})
        )

    def test_recall_complete_at_radius(self, spark):
        """Planted pairs at EVERY hamming distance 0..max_hamming must
        all be found (the pigeonhole coverage guarantee), including
        flips placed adversarially in the same block region."""
        import numpy as np

        from pii_redaction_data_pipeline_spark.operators.dedup import (
            simhash_sig_pairs,
        )

        rng = np.random.default_rng(7)
        max_h = 3
        sigs, want = [], set()
        for d in range(max_h + 1):
            base = int(rng.integers(0, 1 << 63))
            # adversarial: flips packed into the lowest bits (same block)
            packed = base
            for b in range(d):
                packed ^= 1 << b
            # and spread across the word
            spread = base
            for b in range(d):
                spread ^= 1 << (b * 21 % 64)
            i = len(sigs)
            sigs += [base, packed]
            want.add((i, i + 1))
            j = len(sigs)
            sigs += [base ^ (1 << 63), (base ^ (1 << 63)) if d == 0 else spread]
        # plus decoys far away from everything
        sigs += [int(rng.integers(0, 1 << 63)) | (0xAAAA << 40) for _ in range(20)]
        got = {
            (r.id_a, r.id_b)
            for r in simhash_sig_pairs(
                self._sig_df(spark, sigs), max_hamming=max_h
            ).collect()
        }
        assert want <= got

    def test_random_flip_recall_property(self, spark):
        """200 random signatures, each paired with a copy carrying 1..h
        random bit flips: recall must be 100% at radius h (the banding
        is recall-complete by construction, not probabilistically)."""
        import numpy as np

        from pii_redaction_data_pipeline_spark.operators.dedup import (
            simhash_sig_pairs,
        )

        for max_h in (3, 8):
            rng = np.random.default_rng(max_h)
            sigs, want = [], set()
            for _ in range(100):
                base = int(rng.integers(0, 1 << 63))
                flipped = base
                for b in rng.choice(64, size=rng.integers(1, max_h + 1), replace=False):
                    flipped ^= 1 << int(b)
                i = len(sigs)
                sigs += [base, flipped]
                want.add((i, i + 1))
            got = {
                (r.id_a, r.id_b)
                for r in simhash_sig_pairs(
                    self._sig_df(spark, sigs), max_hamming=max_h
                ).collect()
            }
            missing = want - got
            assert not missing, (max_h, sorted(missing)[:5])

    def test_mass_duplicate_skew_bounded_buckets(self, spark):
        """The skew torture: a corpus where ONE signature covers most
        rows (boilerplate mass-duplication). Banding runs over DISTINCT
        signatures, so every bucket population stays at the distinct-sig
        scale (here: ~1), while the identical-id pairs still come out
        complete through the output-bounded equi-join."""
        import numpy as np
        from pyspark.sql import functions as F

        from pii_redaction_data_pipeline_spark.operators.dedup import (
            _simhash_keyed,
            simhash_sig_pairs,
        )

        rng = np.random.default_rng(11)
        hot = int(rng.integers(0, 1 << 63))
        n_hot = 80
        uniq = [int(x) for x in rng.integers(0, 1 << 63, size=100)]
        sigs = [hot] * n_hot + uniq
        sdf = self._sig_df(spark, sigs)

        keyed = _simhash_keyed(sdf.select("sh").distinct(), max_hamming=3)
        max_bucket = (
            keyed.groupBy("tbl", "key").count().agg(F.max("count")).first()[0]
        )
        # 101 distinct sigs over ~32-bit keys: collisions are ~0; even
        # allowing a few random ones the bucket bound is tiny and — the
        # actual point — INDEPENDENT of n_hot
        assert max_bucket <= 3

        pairs = simhash_sig_pairs(sdf, max_hamming=3)
        hot_pairs = pairs.filter("hamming = 0").count()
        assert hot_pairs >= n_hot * (n_hot - 1) // 2

    def test_matches_bruteforce_on_random_corpus(self, spark):
        """Output must equal the brute-force all-pairs hamming filter
        exactly (both directions: no misses, no spurious rows)."""
        import numpy as np

        from pii_redaction_data_pipeline_spark.operators.dedup import (
            simhash_sig_pairs,
        )

        rng = np.random.default_rng(3)
        base = [int(x) for x in rng.integers(0, 1 << 63, size=30)]
        # derive close variants so the radius actually matches things
        sigs = base + [b ^ 0b101 for b in base[:10]] + [b ^ (1 << 40) for b in base[10:15]]
        truth = set()
        for i in range(len(sigs)):
            for j in range(i + 1, len(sigs)):
                d = bin(sigs[i] ^ sigs[j]).count("1")
                if d <= 4:
                    truth.add((i, j, d))
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in simhash_sig_pairs(
                self._sig_df(spark, sigs), max_hamming=4
            ).collect()
        }
        assert got == truth

    def test_single_block_parameterization(self, spark):
        """n_blocks=1 (exact-match banding) must not overflow the Java
        long mask: the single 64-bit block is the raw signature."""
        import numpy as np

        from pii_redaction_data_pipeline_spark.operators.dedup import (
            simhash_sig_pairs,
        )

        rng = np.random.default_rng(5)
        base = [int(x) for x in rng.integers(0, 1 << 63, size=10)]
        sigs = base + [base[0]]  # ids 0 and 10 share a signature
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in simhash_sig_pairs(
                self._sig_df(spark, sigs), max_hamming=0, n_blocks=1
            ).collect()
        }
        assert got == {(0, 10, 0)}


class TestCorpusLineDedup:
    """Corpus-level exact line dedup (CCNet-style boilerplate removal)."""

    ROWS = [
        (1, "keep one\nBOILER A\nkeep two"),
        (2, "BOILER A\nunique x\n\nBOILER B"),
        (3, "BOILER B\nunique y"),
        (4, "\n\n"),  # blank lines only: never boilerplate, all survive
        (5, "BOILER A"),  # fully boilerplate -> empty text, row kept
    ]

    def _run(self, spark, **kw):
        from pii_redaction_data_pipeline_spark.operators.dedup import (
            corpus_line_dedup,
        )

        df = spark.createDataFrame(self.ROWS, ["doc_id", "text"])
        return {r["doc_id"]: r for r in corpus_line_dedup(df, **kw).collect()}

    def test_drops_cross_doc_lines_preserving_order(self, spark):
        out = self._run(spark)
        assert len(out) == 5  # every document row survives
        assert out[1]["text_clean"] == "keep one\nkeep two"
        assert (out[1]["n_lines"], out[1]["n_kept"]) == (3, 2)
        # BOILER A (docs 1,2,5) and BOILER B (docs 2,3) both dropped;
        # the empty line in doc 2 is below min_line_chars and survives
        assert out[2]["text_clean"] == "unique x\n"
        assert (out[2]["n_lines"], out[2]["n_kept"]) == (4, 2)
        assert out[3]["text_clean"] == "unique y"

    def test_blank_line_structure_survives(self, spark):
        out = self._run(spark)
        assert out[4]["text_clean"] == "\n\n"
        assert (out[4]["n_lines"], out[4]["n_kept"]) == (3, 3)

    def test_fully_boilerplate_doc_survives_empty(self, spark):
        out = self._run(spark)
        assert out[5]["text_clean"] == ""
        assert (out[5]["n_lines"], out[5]["n_kept"]) == (1, 0)

    def test_min_docs_threshold(self, spark):
        out = self._run(spark, min_docs=3)  # only BOILER A hits 3 docs
        assert out[3]["text_clean"] == "BOILER B\nunique y"
        assert out[2]["text_clean"] == "unique x\n\nBOILER B"
        assert out[1]["text_clean"] == "keep one\nkeep two"

    def test_min_line_chars_gates_candidates(self, spark):
        out = self._run(spark, min_line_chars=20)  # nothing is long enough
        assert all(
            out[i]["text_clean"] == t for i, t in [(j + 1, r[1]) for j, r in enumerate(self.ROWS)]
        )
        assert all(out[i]["n_lines"] == out[i]["n_kept"] for i in out)


class TestRepeatedSpanDedup:
    """Cross-document exact substring (repeated-span) dedup — the Lee
    et al. 2022 span remover at word-k-gram granularity."""

    SHARED = "alpha beta gamma delta"  # a 4-gram planted in docs 1-3
    ROWS = [
        (1, "one two three alpha beta gamma delta four five"),
        (2, "alpha beta gamma delta six seven eight nine"),
        (3, "ten alpha beta gamma delta"),
        (4, "totally unique words that repeat nowhere at all"),
        (5, "alpha beta gamma delta"),  # fully covered -> empty text
        (6, "tiny doc"),  # shorter than k: no grams, untouched
    ]

    def _run(self, spark, **kw):
        from pii_redaction_data_pipeline_spark.operators.dedup import (
            repeated_span_dedup,
        )

        kw.setdefault("k", 4)
        kw.setdefault("min_docs", 2)
        df = spark.createDataFrame(self.ROWS, ["doc_id", "text"])
        return {r["doc_id"]: r for r in repeated_span_dedup(df, **kw).collect()}

    def test_cuts_shared_span_keeps_unique_context(self, spark):
        out = self._run(spark)
        assert len(out) == 6  # every document row survives
        assert out[1]["text_clean"] == "one two three four five"
        assert (out[1]["n_tokens"], out[1]["n_kept"]) == (9, 5)
        assert out[2]["text_clean"] == "six seven eight nine"
        assert out[3]["text_clean"] == "ten"

    def test_unique_doc_untouched(self, spark):
        out = self._run(spark)
        assert out[4]["text_clean"] == self.ROWS[3][1]
        assert out[4]["n_tokens"] == out[4]["n_kept"] == 8

    def test_fully_covered_doc_survives_empty(self, spark):
        out = self._run(spark)
        assert out[5]["text_clean"] == ""
        assert (out[5]["n_tokens"], out[5]["n_kept"]) == (4, 0)

    def test_doc_shorter_than_k_never_marked(self, spark):
        out = self._run(spark)
        assert out[6]["text_clean"] == "tiny doc"
        assert (out[6]["n_tokens"], out[6]["n_kept"]) == (2, 2)

    def test_overlapping_hits_coalesce_into_maximal_span(self, spark):
        # docs share a 6-token run: with k=4 the three overlapping grams
        # must union into ONE maximal 6-token cut, not 3x4 double-counts
        rows = [
            (1, "x a b c d e f y"),
            (2, "a b c d e f"),
        ]
        from pii_redaction_data_pipeline_spark.operators.dedup import (
            repeated_span_dedup,
        )

        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {r["doc_id"]: r for r in repeated_span_dedup(df, k=4).collect()}
        assert out[1]["text_clean"] == "x y"
        assert (out[1]["n_tokens"], out[1]["n_kept"]) == (8, 2)
        assert out[2]["text_clean"] == ""

    def test_min_docs_threshold(self, spark):
        out = self._run(spark, min_docs=4)  # the 4-gram spans 4 docs (1,2,3,5)
        assert out[1]["text_clean"] == "one two three four five"
        out = self._run(spark, min_docs=5)  # threshold above support: no cuts
        assert all(out[i]["n_tokens"] == out[i]["n_kept"] for i in out)

    def test_k_must_be_positive(self, spark):
        import pytest as _pytest

        from pii_redaction_data_pipeline_spark.operators.dedup import (
            repeated_span_dedup,
        )

        df = spark.createDataFrame(self.ROWS, ["doc_id", "text"])
        with _pytest.raises(ValueError, match="k must be >= 1"):
            repeated_span_dedup(df, k=0)

    def test_untouched_doc_keeps_exact_whitespace(self, spark):
        # a doc with NO covered tokens must pass through byte-identical —
        # newlines, tabs, runs of spaces intact (the split/re-join path
        # applies only to documents that were actually cut)
        structured = "line one\n\tline  two\n\nline three"
        rows = [
            (1, structured),
            (2, "alpha beta gamma delta epsilon"),
            (3, "zz alpha beta gamma delta epsilon yy"),
        ]
        from pii_redaction_data_pipeline_spark.operators.dedup import (
            repeated_span_dedup,
        )

        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {r["doc_id"]: r for r in repeated_span_dedup(df, k=5).collect()}
        assert out[1]["text_clean"] == structured  # byte-identical
        assert out[1]["n_tokens"] == out[1]["n_kept"] == 6
        # cut docs are token-rebuilt (stated loss mode)
        assert out[2]["text_clean"] == ""
        assert out[3]["text_clean"] == "zz yy"


def test_null_text_coerces_to_empty_in_span_and_line_dedup(spark):
    """NULL text must behave like '' in both corpus-level rebuild
    operators (round-4 advice): split(NULL) is NULL and size(NULL) is
    -1, which used to leak (NULL, -1, -1) rows out of
    repeated_span_dedup."""
    from pyspark.sql import types as T

    from pii_redaction_data_pipeline_spark.operators.dedup import (
        corpus_line_dedup,
        repeated_span_dedup,
    )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    df = spark.createDataFrame(
        [(1, None), (2, "a b c d e f g h"), (3, "a b c d e f g h zz")], schema
    )
    span = {r["doc_id"]: r for r in repeated_span_dedup(df, k=8, min_docs=2).collect()}
    assert span[1]["text_clean"] == ""
    assert (span[1]["n_tokens"], span[1]["n_kept"]) == (1, 1)
    line = {r["doc_id"]: r for r in corpus_line_dedup(df, min_docs=2).collect()}
    assert line[1]["text_clean"] == ""
    assert (line[1]["n_lines"], line[1]["n_kept"]) == (1, 1)


def test_minhash_bands_must_divide_n_hashes(spark):
    """bands > N_HASHES would band over EMPTY signature slices (one
    global bucket -> all-pairs join); a non-dividing bands silently
    drops signature components. Both raise."""
    from pii_redaction_data_pipeline_spark.operators.dedup import N_HASHES

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for bad in (2 * N_HASHES, 5):
        with pytest.raises(ValueError, match="bands"):
            minhash_lsh_pairs(df, bands=bad)


def test_band_guard_covers_conversation_path(spark):
    """The bands guard lives in _band_candidates, so the conversation
    near-dup entry point rejects a degenerate banding too (empty
    signature slices -> one global bucket -> all-pairs join)."""
    from pii_redaction_data_pipeline_spark.operators.dedup import (
        conversation_neardup_pairs,
    )

    df = spark.createDataFrame(
        [("c1", 0, "a"), ("c1", 1, "b")],
        "conv_id string, turn_idx int, text string",
    )
    with pytest.raises(ValueError, match="bands"):
        conversation_neardup_pairs(df, bands=128).collect()


def test_ngram_jaccard_empty_docs_form_no_pairs(spark):
    """NULL / empty / whitespace-only docs share the '' shingle; they
    must NOT pair up as jaccard-1.0 near-dups (n^2 clique) — identical
    empties are exact duplicates, not near-dups (q_dedup_exact_groups
    groups them). Non-empty pairs are unaffected."""
    docs = _docs_df(spark)
    planted = spark.createDataFrame(
        pd.DataFrame(
            [(100, None), (101, ""), (102, "   "), (103, None)],
            columns=["doc_id", "text"],
        )
    )
    got = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            docs.unionByName(planted), threshold=0.5
        ).collect()
    }
    assert got == {(0, 1), (2, 3)}
