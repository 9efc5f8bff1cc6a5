"""Deterministic heuristic language ID (fastText-style gate, offline).

The reference hardcodes LanguageCode='en' when launching Comprehend PHI
detection (backend/src/lambda/pii-detection.py:88) — i.e. its language
"model" is a constant. We generalize to a real (if small) classifier:
script detection (CJK / Cyrillic ranges) + stopword evidence for five
Latin-script languages. fastText's lid.176 binary is not available in
this offline container, so this fully deterministic classifier is the
shipped model; it shares the fastText contract (label + confidence) so a
real model can be swapped in via the same UDF factory.

Vectorization: the whole Arrow batch is scanned ONCE —
  * one combined stopword regex pass over the batch's concatenated text
    (instead of one alternation pass per language), attributed back to
    rows/languages with numpy searchsorted + add.at;
  * script detection (CJK/Cyrillic) as numpy codepoint-range masks over
    the UTF-32 view, per-row counts via a cumsum-slice (no regex);
  * the unicode-letter count (only needed as the Cyrillic-share
    denominator) is computed lazily on the rare rows containing any
    Cyrillic at all.
`langid_frame_reference` keeps the original per-pattern pandas
implementation; tests pin exact equality between the two.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# language -> characteristic function words (lowercase). Deliberately
# small and high-precision; confidence is share of stopword hits.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "is", "of", "to", "you", "it", "that", "for", "with"),
    "fr": ("le", "la", "les", "et", "est", "vous", "je", "une", "dans", "pour"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ich", "ein", "mit", "zu"),
    "es": ("el", "los", "es", "que", "una", "por", "para", "con", "las", "usted"),
    "it": ("il", "che", "di", "non", "per", "sono", "una", "con", "questo", "della"),
}
LATIN_LANGS: tuple[str, ...] = tuple(STOPWORDS)

_WORD_RES = {
    lang: r"\b(?:" + "|".join(words) + r")\b" for lang, words in STOPWORDS.items()
}
_CJK_RE = r"[一-鿿぀-ヿ]"
_CYRILLIC_RE = r"[Ѐ-ӿ]"
_ALPHA_RE = r"[^\W\d_]"  # unicode letters

# combined single-pass machinery: every stopword of every language in one
# alternation; a word may belong to several languages (e.g. 'una' is both
# es and it), so the map is word -> tuple of language indices.
_ALL_WORDS = sorted({w for ws in STOPWORDS.values() for w in ws})
# capturing alternation for re.split: pieces alternate [gap, word, gap, ...],
# giving findall-speed scanning (no per-hit Match objects) with positions
# recovered from piece lengths
_COMBINED_SPLIT_RE = re.compile(r"\b(" + "|".join(_ALL_WORDS) + r")\b")
_WORD_TO_ID: dict[str, int] = {w: i for i, w in enumerate(_ALL_WORDS)}
# word-id -> one-hot-ish language membership row ('una' is both es and it)
_LANG_MAT = np.zeros((len(_ALL_WORDS), len(LATIN_LANGS)), dtype=np.float64)
for _w, _wid in _WORD_TO_ID.items():
    for _li, _lang in enumerate(LATIN_LANGS):
        if _w in STOPWORDS[_lang]:
            _LANG_MAT[_wid, _li] = 1.0
_ALPHA_PAT = re.compile(_ALPHA_RE)

# --- packed-word machinery for the ASCII fast path ------------------------
# Every stopword is <= 8 ASCII chars, so a word run of length <= 8 packs
# losslessly into one uint64 (byte j of the run -> bits [8j, 8j+8)); runs
# longer than 8 chars cannot equal any stopword. Matching is then a
# vectorized np.searchsorted against the 50 packed stopwords — exact (no
# hashing, no collisions), and \b semantics fall out of taking MAXIMAL
# word-char runs. ASCII-only: a batch containing any non-ASCII text falls
# back to the combined-regex path (identical semantics, pinned by
# test_langid_fast_matches_reference).
assert max(len(w) for w in _ALL_WORDS) <= 8


def _pack_words(words: list[str]) -> np.ndarray:
    out = np.zeros(len(words), dtype=np.uint64)
    for i, w in enumerate(words):
        v = 0
        for j, ch in enumerate(w.encode("ascii")):
            v |= ch << (8 * j)
        out[i] = v
    return out


_PACKED_SORTED = _pack_words(_ALL_WORDS)
_PACKED_ORDER = np.argsort(_PACKED_SORTED, kind="stable").astype(np.int64)
_PACKED_SORTED = _PACKED_SORTED[_PACKED_ORDER]


def _stopword_hits_ascii(joined: str) -> tuple[np.ndarray, np.ndarray]:
    """(positions, word_ids) of every \\b-anchored stopword occurrence in
    an all-ASCII lowercased '\\n'-joined batch — no regex engine."""
    b = np.frombuffer(joined.encode("ascii"), dtype=np.uint8)
    is_word = (
        ((b >= 0x61) & (b <= 0x7A))
        | ((b >= 0x30) & (b <= 0x39))
        | (b == 0x5F)
        | ((b >= 0x41) & (b <= 0x5A))
    )
    prev = np.concatenate(([False], is_word[:-1]))
    nxt = np.concatenate((is_word[1:], [False]))
    starts = np.flatnonzero(is_word & ~prev)
    ends = np.flatnonzero(is_word & ~nxt) + 1
    lens = ends - starts
    short = lens <= 8
    starts_s = starts[short]
    lens_s = lens[short]
    pack = np.zeros(len(starts_s), dtype=np.uint64)
    for j in range(8):
        m = lens_s > j
        if not m.any():
            break
        pack[m] |= b[starts_s[m] + j].astype(np.uint64) << np.uint64(8 * j)
    idx = np.searchsorted(_PACKED_SORTED, pack)
    idx_c = idx.clip(max=len(_PACKED_SORTED) - 1)
    hit = _PACKED_SORTED[idx_c] == pack
    return starts_s[hit], _PACKED_ORDER[idx_c[hit]]


def _counts_by_row(mask: np.ndarray, starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """Per-row sums of a boolean mask over concatenated text (empty-row safe)."""
    cs = np.concatenate([[0], np.cumsum(mask, dtype=np.int64)])
    return cs[ends] - cs[starts]


def _verdict(
    texts: pd.Series,
    n_chars: np.ndarray,
    cjk: np.ndarray,
    cyr: np.ndarray,
    letters_fn,
    counts: np.ndarray,
) -> pd.DataFrame:
    """Shared tail: stopword argmax + script overrides (identical math in
    the fast and reference paths)."""
    total = counts.sum(axis=1)
    best_idx = counts.argmax(axis=1)  # ties -> first (fixed LATIN_LANGS order)
    best = counts[np.arange(len(texts)), best_idx]
    with np.errstate(divide="ignore", invalid="ignore"):
        conf = np.where(total > 0, best / np.maximum(total, 1.0), 0.0)

    lang = np.array(LATIN_LANGS, dtype=object)[best_idx]
    # no stopword evidence at all -> unknown English-ish with low confidence
    lang = np.where(total == 0, "en", lang)
    conf = np.where(total == 0, 0.0, conf)

    # script overrides (high confidence by construction)
    cjk_frac = cjk / n_chars
    # letters include Cyrillic — share of letters that are Cyrillic
    letters = letters_fn()
    cyr_frac = np.divide(cyr, np.maximum(letters, 1))
    is_cjk = cjk_frac > 0.15
    is_cyr = cyr_frac > 0.5
    lang = np.where(is_cyr, "ru", lang)
    # clip like the zh branch: the numerator counts every U+0400-04FF
    # codepoint (incl. combining marks / the thousands sign) while the
    # denominator counts only letters, so cyr_frac can exceed 1 — and
    # the (lang, conf) contract promises a fastText-style probability
    conf = np.where(is_cyr, np.maximum(cyr_frac, 0.9).clip(max=1.0), conf)
    lang = np.where(is_cjk, "zh", lang)
    conf = np.where(is_cjk, np.maximum(cjk_frac + 0.5, 0.9).clip(max=1.0), conf)

    return pd.DataFrame(
        {"lang": lang.astype(object), "lang_conf": conf.astype(np.float64)},
        index=texts.index,
    )


def langid_frame(texts: pd.Series) -> pd.DataFrame:
    """-> DataFrame(lang:str, lang_conf:float64) per input row (fast path).

    The batch is PARTITIONED by per-row isascii(): ASCII rows (the
    overwhelming majority at corpus scale) take the packed-word numpy
    scan (no regex engine) and by construction need no script detection;
    only the non-ASCII remainder pays the UTF-32 script masks and the
    combined-alternation regex (Unicode \\b semantics). A whole-batch
    gate was useless in practice: one non-ASCII row per batch forced the
    slow path on everything."""
    s = texts.fillna("").str.lower()
    vals = s.tolist()
    n = len(vals)
    lens = np.fromiter((len(t) for t in vals), dtype=np.int64, count=n)
    n_chars = lens.clip(min=1)
    ascii_mask = np.fromiter((t.isascii() for t in vals), dtype=bool, count=n)

    counts = np.zeros((n, len(LATIN_LANGS)), dtype=np.float64)
    cjk = np.zeros(n, dtype=np.int64)
    cyr = np.zeros(n, dtype=np.int64)

    def accumulate(rows: np.ndarray, wids: np.ndarray):
        for li in range(len(LATIN_LANGS)):
            sel = _LANG_MAT[wids, li] > 0
            if sel.any():
                counts[:, li] += np.bincount(rows[sel], minlength=n)

    a_idx = np.flatnonzero(ascii_mask)
    if len(a_idx):
        vals_a = [vals[i] for i in a_idx]
        joined_a = "\n".join(vals_a)
        bounds_a = np.cumsum(lens[a_idx] + 1)
        positions, wids = _stopword_hits_ascii(joined_a)
        accumulate(a_idx[np.searchsorted(bounds_a, positions, side="right")], wids)

    na_idx = np.flatnonzero(~ascii_mask)
    if len(na_idx):
        vals_na = [vals[i] for i in na_idx]
        joined_na = "\n".join(vals_na)
        # row r of the group spans [starts[r], ends[r]) in codepoints
        bounds_na = np.cumsum(lens[na_idx] + 1)
        starts_na = bounds_na - (lens[na_idx] + 1)
        ends_na = bounds_na - 1
        cp = np.frombuffer(joined_na.encode("utf-32-le"), dtype="<u4")
        cjk_mask = ((cp >= 0x4E00) & (cp <= 0x9FFF)) | (
            (cp >= 0x3040) & (cp <= 0x30FF)
        )
        cyr_mask = (cp >= 0x0400) & (cp <= 0x04FF)
        cjk[na_idx] = _counts_by_row(cjk_mask, starts_na, ends_na)
        cyr[na_idx] = _counts_by_row(cyr_mask, starts_na, ends_na)
        # re.split with a capture: C-speed scan, no per-hit Match
        # objects; word positions come from cumulative piece lengths
        pieces = _COMBINED_SPLIT_RE.split(joined_na)
        if len(pieces) > 1:
            piece_lens = np.fromiter(map(len, pieces), dtype=np.int64, count=len(pieces))
            piece_starts = np.concatenate([[0], np.cumsum(piece_lens[:-1])])
            positions = piece_starts[1::2]  # odd pieces are the matched words
            words = pieces[1::2]
            rows = na_idx[np.searchsorted(bounds_na, positions, side="right")]
            wids = np.fromiter(
                (_WORD_TO_ID[w] for w in words), dtype=np.int64, count=len(words)
            )
            accumulate(rows, wids)

    def letters_fn():
        # needed only as the Cyrillic-share denominator -> compute on the
        # (rare) rows that contain any Cyrillic at all
        letters = np.zeros(len(vals), dtype=np.int64)
        for i in np.nonzero(cyr > 0)[0]:
            letters[i] = len(_ALPHA_PAT.findall(vals[i]))
        return letters

    return _verdict(texts, n_chars, cjk, cyr, letters_fn, counts)


def langid_frame_reference(texts: pd.Series) -> pd.DataFrame:
    """Original per-pattern pandas implementation (parity oracle for tests)."""
    s = texts.fillna("").str.lower()
    n_chars = s.str.len().to_numpy().clip(min=1)
    cjk = s.str.count(_CJK_RE).to_numpy()
    cyr = s.str.count(_CYRILLIC_RE).to_numpy()
    letters = s.str.count(_ALPHA_RE).to_numpy()
    counts = np.stack(
        [s.str.count(_WORD_RES[lang]).to_numpy() for lang in LATIN_LANGS], axis=1
    ).astype(np.float64)
    return _verdict(texts, n_chars, cjk, cyr, lambda: letters, counts)


_LANGID_SCHEMA = T.StructType(
    [
        T.StructField("lang", T.StringType()),
        T.StructField("lang_conf", T.DoubleType()),
    ]
)


def fasttext_langid_frame(texts: pd.Series, model) -> pd.DataFrame:
    """Shared scoring path for a fastText(-compatible) model: an object
    with predict(list[str], k=1) -> (labels, probs), labels prefixed
    '__label__' (the lid.176 contract). Newlines are illegal in fastText
    input and are flattened to spaces."""
    cleaned = [t.replace("\n", " ") for t in texts.fillna("")]
    labels, probs = model.predict(cleaned, k=1)
    return pd.DataFrame(
        {
            "lang": [l[0].removeprefix("__label__") if l else "en" for l in labels],
            "lang_conf": np.asarray([p[0] if len(p) else 0.0 for p in probs], dtype=np.float64),
        },
        index=texts.index,
    )


_FT_CACHE: dict[str, object] = {}


def _load_fasttext(model_bytes: bytes, cache_key: str):
    """Executor-local lazy singleton: write the broadcast bytes to a temp
    file once per worker process and load with the fasttext runtime."""
    if cache_key not in _FT_CACHE:
        import os
        import tempfile

        import fasttext

        fd, path = tempfile.mkstemp(suffix=".ftz")
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(model_bytes)
            _FT_CACHE[cache_key] = fasttext.load_model(path)
        finally:
            os.unlink(path)
    return _FT_CACHE[cache_key]


def make_langid_udf(fasttext_model_path: str | None = None, spark=None):
    """Language-ID pandas UDF.

    Default: the deterministic heuristic classifier (shipped model).
    With `fasttext_model_path` (e.g. lid.176.ftz) and the `fasttext`
    package installed, the real model is broadcast as bytes and
    lazy-loaded once per executor — the north rule's fastText gate; both
    paths share the (lang, lang_conf) contract so they are
    interchangeable in the pipeline.
    """
    if fasttext_model_path:
        import fasttext  # noqa: F401 — fail fast if the runtime is absent

        with open(fasttext_model_path, "rb") as f:
            model_bytes = f.read()
        bc = spark.sparkContext.broadcast(model_bytes) if spark else None
        key = fasttext_model_path
        # capture ONLY (bc, local_bytes, key) in the UDF closure: with a
        # broadcast, referencing model_bytes itself would cloudpickle the
        # whole model file into every task's command IN ADDITION to the
        # broadcast (the make_annotate_udf / make_ppl_udf contract)
        local_bytes = None if bc is not None else model_bytes
        del model_bytes

        @F.pandas_udf(_LANGID_SCHEMA)
        def langid_udf(texts: pd.Series) -> pd.DataFrame:
            data = bc.value if bc is not None else local_bytes
            return fasttext_langid_frame(texts, _load_fasttext(data, key))

        return langid_udf

    @F.pandas_udf(_LANGID_SCHEMA)
    def langid_udf(texts: pd.Series) -> pd.DataFrame:
        return langid_frame(texts)

    return langid_udf
