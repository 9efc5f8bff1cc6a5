"""Deterministic synthetic transcript generator + golden labels.

Produces the `transcripts` table (input_hint schema: conv_id, turn_idx,
role, text, tool, ts) together with `expected_labels` (keep,
drop_reasons, scrubbed_text, scrub_counts) derived BY CONSTRUCTION from
the planted category of each turn — not by running the pipeline — so the
pipeline is tested against independent ground truth (the golden fixtures
the reference never had, SURVEY.md §5).

Fully seeded (numpy default_rng with fixed per-scale seeds); repeated
generation is identical. See FIXTURES.md for the category taxonomy.

Rule semantics encoded in the labels (the pipeline contract):
  - lang gate first: predicted lang not in allowed -> drop ["lang"] and
    no further content rules run (mirrors the reference's hard
    LanguageCode='en' gate, backend/src/lambda/pii-detection.py:88).
  - content rules on raw text: too_short (chars<10 or words<3),
    too_long (chars>8000), symbol_ratio (>0.30 ascii-symbol share),
    repetition (top word-3gram covers >0.30 of chars).
  - high_ppl: LAST-resort fluency gate; only for role in
    (user, assistant, system), only when no other content rule fired;
    computed on scrubbed text with mask tokens stripped.
  - duplicate_turn: non-tool turn whose normalized text appeared earlier
    in the conversation (tracked here per-conv, independent of category).
  - tool_loop: in a run of >=3 consecutive identical tool turns, every
    turn after the first.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

BASE_TS = pd.Timestamp("2024-01-01T00:00:00Z").value // 1000  # microseconds

CLEAN_SENTENCES: tuple[str, ...] = (
    "Thanks for reaching out, I am happy to look into that for you.",
    "Could you share a little more detail about the problem you are seeing?",
    "I understand the order has not arrived yet and that is frustrating.",
    "Let me check the status of your account right now.",
    "The data pipeline finished the nightly run without errors.",
    "We filter each record and keep only the rows that pass every rule.",
    "The team reviewed the report and agreed on the next steps.",
    "Please restart the service and tell me whether the error still appears.",
    "You can update your payment method from the settings page.",
    "The model reads each turn and decides whether to keep it or drop it.",
    "A long walk in the park is a simple way to clear the mind.",
    "The library was silent except for the soft sound of turning pages.",
    "We measured the time taken by each stage and found the slowest step.",
    "If the test passes at small scale we run the same job on the cluster.",
    "The weather today is mild with a light wind from the west.",
    "Thank you for your patience while we look into this issue.",
    "I have refunded the charge and you should see it within three days.",
    "The children played in the garden until the sun went down.",
    "Good writing is clear, direct, and easy to read aloud.",
    "The server logs show a spike in traffic just before the outage began.",
    "She opened the window to let the morning light fill the quiet room.",
    "The quick brown fox jumps over the lazy dog by the stone bridge.",
    "Is there anything else I can help you with today?",
    "The calm river flows past the old mill at the edge of town.",
    "We agreed to meet on Tuesday to review the final draft together.",
    "The report covers the results of the latest run in plain language.",
    "Please let me know if the update fixed the problem on your side.",
    "The garden smelled of rain and fresh earth after the storm.",
    "He packed a small bag and set out before the first light.",
    "The meeting ended early so we had time to test the new build.",
    "Your request has been received and a person will reply soon.",
    "The slow query was caused by a missing filter on the date column.",
    "Reading a few pages before bed is a good habit to keep.",
    "The price includes shipping and there are no extra fees.",
    "We keep a copy of every report for at least three years.",
    "The train arrived on time despite the heavy snow in the hills.",
    "This step removes rows that fail the quality checks.",
    "The answer depends on the size of the input and the number of cores.",
    "Her voice was steady as she read the closing lines of the letter.",
    "The fix is small but it touches a busy part of the code.",
)

NON_ENGLISH_SENTENCES: tuple[str, ...] = (
    # fr — stopword-rich so the heuristic classifier is confident
    "Je vous remercie pour votre message et je vais regarder le dossier dans la journée.",
    "Est-ce que vous pouvez me donner une photo de la facture pour le dossier?",
    "Le service est dans une phase de maintenance et je vous prie de patienter.",
    # de
    "Ich habe die Bestellung geprüft und das Paket ist nicht angekommen.",
    "Das ist ein bekanntes Problem und die Lösung ist ein Neustart der App.",
    "Der Kunde hat die Rechnung nicht bekommen und ich habe sie noch einmal geschickt.",
    # es
    "El pedido que usted hizo la semana pasada ya es una entrega confirmada por el sistema.",
    "Una persona del equipo va a revisar el caso y le va a escribir por el correo.",
    "Los datos que usted pide no son parte de el informe que el sistema genera.",
    # zh (script-detected)
    "您好,我已经收到您的请求,我们会尽快处理并给您答复,谢谢您的耐心等待。",
    "这个问题我们已经知道了,工程师正在修复,预计明天可以恢复正常使用。",
    # ru (script-detected)
    "Здравствуйте, я проверил ваш заказ и посылка уже отправлена на ваш адрес.",
    "Спасибо за ваше сообщение, мы ответим вам в течение одного рабочего дня.",
)

SHORT_TEXTS: tuple[str, ...] = ("ok", "yes", "no", "thanks", "sure", "fine", "hm", "good")

SYMBOL_TEXTS: tuple[str, ...] = (
    "#$%^& *()_+ !!!~~~ ###",
    "@@@ ::: ;;; --- === +++",
    ">>> <<< ||| &&& %%% $$$",
    "{} [] () <> // \\\\ ** ^^",
)

TOOLS: tuple[str, ...] = ("search", "exec", "browse", "calc")

PROFANITY = ("frak", "gorram", "smeg", "shazbot", "felgercarb", "frakking")

FIRST = ("jane", "john", "wei", "ana", "omar", "lena", "raj", "mia")
LAST = ("doe", "smith", "garcia", "chen", "patel", "kim", "lopez", "brown")
DOMAIN = ("example.com", "mail.test", "corp.example.org", "web.example.net")

GIBBERISH_ALPHABET = "bcdfghjklmnpqrstvwxz"  # no vowels -> can't form stopwords

CATEGORIES = (
    "clean", "clean_pii", "too_short", "too_long", "symbol_soup",
    "repetition", "high_ppl", "non_english", "dup_turn",
)
CAT_P = (0.50, 0.15, 0.05, 0.01, 0.05, 0.04, 0.05, 0.06, 0.09)


@dataclass
class Scale:
    name: str
    n_convs: int
    mean_turns: int
    skew_convs: int
    skew_turns: int
    seed: int
    # every k-th conversation also gets a NEAR-DUPLICATE clone (same
    # turn stream minus the last `dup_conv_trim` turns, conv_id suffixed
    # "-dup"): the planted ground truth for conversation-level near-dup
    # dedup. 0 = no clones (all pre-round-3 scales unchanged).
    dup_conv_every: int = 0
    dup_conv_trim: int = 2


SCALES: dict[str, Scale] = {
    "tiny": Scale("tiny", 20, 25, 0, 0, 1042),
    "small": Scale("small", 198, 80, 2, 2000, 2042),
    "bench": Scale("bench", 1996, 940, 4, 30000, 3042),
    # 2x bench, for the scaling measurement: the session-fixed ~7 s tail
    # (planning, codegen, commit) is parallelism-independent and vanishes
    # at 10^12-turn scale, so a larger input gives the more
    # representative N -> 4N ratio (same input at both levels, per the
    # north-rule protocol)
    "bench2x": Scale("bench2x", 3992, 940, 8, 30000, 4042),
    # 4x bench (~8M turns): tail weighs a quarter of what it does at
    # `bench`, so the raw N -> 4N ratio is the closest this sandbox gets
    # to a long cluster job's steady state
    "bench4x": Scale("bench4x", 7984, 940, 16, 30000, 5042),
    # tiny + planted near-duplicate conversation clones: the fixture for
    # conversation-level dedup (conv_neardup) and the composed curation
    # DAG (curate_full). Every 3rd conv is cloned minus its last 2 turns
    # -> conv-level 3-gram jaccard of the clone pair sits near 0.9,
    # far above unrelated convs (which share stock sentences but
    # different streams).
    "tinydup": Scale("tinydup", 21, 25, 0, 0, 6042, dup_conv_every=3),
    # one pathological ~100k-turn conversation among ordinary ones: the
    # skew-torture fixture (VERDICT round-2 item 6) — phase 1 must stay
    # balanced, phase 2's conv_id window must survive the skew
    "skewtort": Scale("skewtort", 8, 30, 1, 100_000, 7042),
}


def _luhn_check_digit(d15: str) -> str:
    ds = [int(c) for c in d15]
    total = 0
    for i, d in enumerate(reversed(ds)):
        if i % 2 == 0:  # these are the doubled positions once the check digit exists
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return str((10 - total % 10) % 10)


def _pii(rng: np.random.Generator) -> tuple[str, str, str]:
    """-> (pii_text, token_type, masked_token)"""
    kind = rng.integers(0, 6)
    if kind == 0:
        v = f"{FIRST[rng.integers(8)]}.{LAST[rng.integers(8)]}@{DOMAIN[rng.integers(4)]}"
        t = "EMAIL"
    elif kind == 1:
        a, b, c = rng.integers(200, 999), rng.integers(100, 999), rng.integers(1000, 9999)
        fmt = rng.integers(0, 3)
        v = [f"({a}) {b}-{c}", f"+1-{a}-{b}-{c}", f"{a}-{b}-{c}"][fmt]
        t = "PHONE"
    elif kind == 2:
        v = f"{rng.integers(100, 899):03d}-{rng.integers(10, 99):02d}-{rng.integers(1000, 9999):04d}"
        t = "SSN"
    elif kind == 3:
        d15 = "".join(str(rng.integers(0, 10)) for _ in range(15))
        d16 = d15 + _luhn_check_digit(d15)
        fmt = rng.integers(0, 3)
        if fmt == 0:
            v = " ".join(d16[i : i + 4] for i in range(0, 16, 4))
        elif fmt == 1:
            v = "-".join(d16[i : i + 4] for i in range(0, 16, 4))
        else:
            v = d16
        t = "CREDIT_CARD"
    elif kind == 4:
        if rng.integers(0, 4) == 0:
            v = ":".join(f"{rng.integers(0, 65536):04x}" for _ in range(8))
        else:
            v = ".".join(str(rng.integers(1, 255)) for _ in range(4))
        t = "IP"
    else:
        v = PROFANITY[rng.integers(len(PROFANITY))]
        t = "PROFANITY"
    return v, t, f"[REDACTED {t}]"


PII_TEMPLATES = (
    ("please reach me at ", " when you have a moment."),
    ("my contact on file is ", " and it has not changed."),
    ("", " is the address you should use."),  # span at start
    ("you can always use ", ""),  # span at end
)


def _clean_text(k: int) -> str:
    n = len(CLEAN_SENTENCES)
    i1, i2 = k % n, (k // n) % (n - 1)
    if k < n:
        return CLEAN_SENTENCES[i1]
    # i2 ranges over n-1 values so the second index can never equal i1
    # (a doubled sentence would trip the repetition rule)
    return CLEAN_SENTENCES[i1] + " " + CLEAN_SENTENCES[(i1 + 1 + i2) % n]


def _gibberish(rng: np.random.Generator) -> str:
    n_words = int(rng.integers(8, 16))
    words = [
        "".join(GIBBERISH_ALPHABET[j] for j in rng.integers(0, 20, size=rng.integers(4, 9)))
        for _ in range(n_words)
    ]
    return " ".join(words)


def junk_register(n: int = 60) -> list[str]:
    """Deterministic consonant-soup junk documents — the canonical
    planted NEGATIVE register for the learned quality filter. One
    recipe, two consumers: the driver's llm_curation probes
    (__spark_entry__.py) and the pytest F1/gate evidence
    (tests/test_quality_classifier.py) MUST train/score against the
    same junk register, or the oracle's margin argument (junk scores
    <= 0.004 vs real >= 0.99) stops being backed by the pytest
    evidence. Vocabulary is consonant-only 7-grams — disjoint by
    construction from every word-like fixture vocabulary."""
    import random

    vocab = [
        "".join(random.Random(97 * i + 13).choices("bcdfghjklmnpqrstvwxz", k=7))
        for i in range(60)
    ]
    rng = random.Random(991)
    return [" ".join(rng.choices(vocab, k=rng.randint(8, 24))) for _ in range(n)]


def _long_text(k: int) -> str:
    parts = []
    i = k
    while sum(len(p) + 1 for p in parts) < 8200:
        parts.append(_clean_text(i))
        i += 7
    return " ".join(parts)


def generate(scale: str = "tiny") -> tuple[pd.DataFrame, pd.DataFrame]:
    """-> (transcripts_df, expected_labels_df), deterministic per scale."""
    sc = SCALES[scale]
    rng = np.random.default_rng(sc.seed)

    rows: list[tuple] = []
    labels: list[tuple] = []

    conv_sizes = rng.integers(
        max(4, sc.mean_turns // 2), sc.mean_turns + sc.mean_turns // 2 + 1,
        size=sc.n_convs,
    )
    sizes = list(conv_sizes) + [sc.skew_turns] * sc.skew_convs

    for ci, n_turns in enumerate(sizes):
        conv = f"conv-{sc.name}-{ci:06d}"
        conv_row_start = len(rows)  # for the near-dup clone pass
        seen: set[str] = set()
        clean_k = ci * 131  # offset so convs don't share identical sentence streams
        ts = BASE_TS + ci * 3_600_000_000
        prev_clean: list[str] = []
        ti = 0
        tool_run_counter = 0
        while ti < n_turns:
            role = ("user", "assistant")[ti % 2]
            if ti == 0 and ci % 5 == 0:
                role = "system"
            # occasionally insert a tool run (loop or benign)
            r = rng.random()
            if r < 0.06 and ti + 3 < n_turns:
                tool = TOOLS[int(rng.integers(len(TOOLS)))]
                # payload unique per conv so two adjacent runs can never
                # merge into one longer run with identical text
                payload = 10 + tool_run_counter
                tool_run_counter += 1
                text = f"tool output for the {tool} returned {payload} items with status complete."
                if rng.random() < 0.6:  # planted loop
                    run = int(rng.integers(3, 6))
                    for j in range(run):
                        reasons = [] if j == 0 else ["tool_loop"]
                        rows.append((conv, ti, "tool", text, tool, ts))
                        labels.append(_label(conv, ti, reasons, text))
                        ts += int(rng.integers(2, 30)) * 1_000_000
                        ti += 1
                else:  # benign short tool run (1-2 distinct outputs)
                    run = int(rng.integers(1, 3))
                    for j in range(run):
                        t2 = f"{text[:-1]} and code {j}."
                        rows.append((conv, ti, "tool", t2, tool, ts))
                        labels.append(_label(conv, ti, [], t2))
                        ts += int(rng.integers(2, 30)) * 1_000_000
                        ti += 1
                continue

            cat = rng.choice(len(CATEGORIES), p=CAT_P)
            cat = CATEGORIES[cat]
            scrub_counts: dict[str, int] | None = {}
            reasons: list[str] = []
            if cat == "clean":
                text = _clean_text(clean_k)
                clean_k += 1
                scrubbed = text
            elif cat == "clean_pii":
                base = _clean_text(clean_k)
                clean_k += 1
                pre, post = PII_TEMPLATES[int(rng.integers(len(PII_TEMPLATES)))]
                n_spans = int(rng.integers(1, 4))
                spans, masks = [], []
                for _ in range(n_spans):
                    v, t, m = _pii(rng)
                    spans.append(v)
                    masks.append(m)
                    scrub_counts[t] = scrub_counts.get(t, 0) + 1
                # "; " separator: a 4-digit phone tail + space + card would
                # otherwise form a misaligned 16-digit candidate window
                text = base + " " + pre + "; ".join(spans) + post
                scrubbed = base + " " + pre + "; ".join(masks) + post
            elif cat == "too_short":
                text = SHORT_TEXTS[int(rng.integers(len(SHORT_TEXTS)))]
                scrubbed, reasons = None, ["too_short"]
            elif cat == "too_long":
                text = _long_text(clean_k)
                clean_k += 1
                scrubbed, reasons = None, ["too_long"]
            elif cat == "symbol_soup":
                text = SYMBOL_TEXTS[int(rng.integers(len(SYMBOL_TEXTS)))]
                scrubbed, reasons = None, ["symbol_ratio"]
            elif cat == "repetition":
                g = _clean_text(clean_k).split()[:3]
                clean_k += 1
                text = " ".join(" ".join(g) for _ in range(12))
                scrubbed, reasons = None, ["repetition"]
            elif cat == "high_ppl":
                text = _gibberish(rng)
                scrubbed, reasons = None, ["high_ppl"]
            elif cat == "non_english":
                text = NON_ENGLISH_SENTENCES[int(rng.integers(len(NON_ENGLISH_SENTENCES)))]
                scrubbed, reasons = None, ["lang"]
            else:  # dup_turn
                if prev_clean:
                    text = prev_clean[int(rng.integers(len(prev_clean)))]
                    scrubbed, reasons = None, ["duplicate_turn"]
                else:
                    text = _clean_text(clean_k)
                    clean_k += 1
                    scrubbed = text

            # duplicate tracking overrides/extends labels for accidental repeats
            norm = " ".join(text.split()).lower()
            if norm in seen and role != "tool":
                if "duplicate_turn" not in reasons:
                    reasons = reasons + ["duplicate_turn"]
                scrubbed = None
            seen.add(norm)

            if cat == "clean" and not reasons:
                prev_clean.append(text)
                if len(prev_clean) > 8:
                    prev_clean.pop(0)

            rows.append((conv, ti, role, text, None, ts))
            labels.append(
                _label(conv, ti, reasons, scrubbed if not reasons else None,
                       scrub_counts if not reasons else None)
            )
            ts += int(rng.integers(5, 120)) * 1_000_000
            ti += 1

        # planted near-duplicate conversation: clone this conv's rows
        # and labels minus the last dup_conv_trim turns. Duplicate-turn
        # state is within-conversation and truncation only removes
        # suffix turns, so those labels transfer verbatim — but a
        # suffix cut can leave a PARTIAL planted tool-loop run at the
        # clone's tail (e.g. 2 surviving turns of a 4-run): the
        # pipeline (tool_loop_min_run=3) correctly keeps such turns, so
        # their tool_loop labels must be re-derived, not copied
        # (seed-dependent golden corruption otherwise). ts shifts by a
        # day so the clone is temporally distinct.
        if sc.dup_conv_every and ci % sc.dup_conv_every == 0:
            dup_conv = conv + "-dup"
            n_keep_rows = max(len(rows) - conv_row_start - sc.dup_conv_trim, 1)
            kept_rows = rows[conv_row_start : conv_row_start + n_keep_rows]
            kept_labels = list(labels[conv_row_start : conv_row_start + n_keep_rows])
            # trailing run of identical tool turns in the KEPT slice
            tail = 0
            for r in reversed(kept_rows):
                if r[2] == "tool" and r[3] == kept_rows[-1][3] and r[4] == kept_rows[-1][4]:
                    tail += 1
                else:
                    break
            if 0 < tail < 3 and any(
                "tool_loop" in lb[3] for lb in kept_labels[-tail:]
            ):
                for k in range(len(kept_labels) - tail, len(kept_labels)):
                    r = kept_rows[k]
                    kept_labels[k] = _label(conv, r[1], [], r[3])
            for r, lb in zip(kept_rows, kept_labels):
                rows.append((dup_conv, r[1], r[2], r[3], r[4], r[5] + 86_400_000_000))
                labels.append((dup_conv,) + lb[1:])

    tdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    tdf["turn_idx"] = tdf["turn_idx"].astype(np.int32)
    tdf["ts"] = pd.to_datetime(tdf["ts"], unit="us", utc=True).dt.tz_localize(None)
    ldf = pd.DataFrame(
        labels,
        columns=["conv_id", "turn_idx", "keep", "drop_reasons", "scrubbed_text", "scrub_counts"],
    )
    ldf["turn_idx"] = ldf["turn_idx"].astype(np.int32)

    # shuffle row order (seeded) so stable-ordering logic is exercised
    perm = np.random.default_rng(sc.seed + 1).permutation(len(tdf))
    tdf = tdf.iloc[perm].reset_index(drop=True)
    return tdf, ldf


_REASON_ORDER = {
    r: i
    for i, r in enumerate(
        ("lang", "too_short", "too_long", "symbol_ratio", "repetition",
         "high_ppl", "duplicate_turn", "tool_loop")
    )
}


def _label(conv, ti, reasons, scrubbed, counts=None):
    reasons = sorted(set(reasons), key=_REASON_ORDER.__getitem__)
    keep = not reasons
    if not keep:
        scrubbed, counts = None, None
    elif counts is None:
        counts = {}
    return (conv, ti, keep, reasons, scrubbed, counts)


def write_parquet(scale: str, out_dir: str) -> tuple[str, str]:
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    tdf, ldf = generate(scale)
    os.makedirs(out_dir, exist_ok=True)
    tp = os.path.join(out_dir, "transcripts.parquet")
    lp = os.path.join(out_dir, "expected_labels.parquet")
    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us")),
        ]
    )
    # small row groups so Spark's byte-range splits can actually
    # parallelize the scan (one giant row group = one task): ~16k rows
    # per group => ~128 groups at bench scale, enough natural splits
    # that the pipeline's adaptive phase-1 skips its repartition the
    # same way a many-file 100 TB table would
    pq.write_table(
        pa.Table.from_pandas(tdf, schema=schema, preserve_index=False),
        tp,
        row_group_size=16384,
    )
    lschema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("keep", pa.bool_()),
            ("drop_reasons", pa.list_(pa.string())),
            ("scrubbed_text", pa.string()),
            ("scrub_counts", pa.map_(pa.string(), pa.int32())),
        ]
    )
    ldf2 = ldf.copy()
    ldf2["scrub_counts"] = ldf2["scrub_counts"].map(
        lambda d: list(d.items()) if d is not None else None
    )
    pq.write_table(pa.Table.from_pandas(ldf2, schema=lschema, preserve_index=False), lp)
    return tp, lp
