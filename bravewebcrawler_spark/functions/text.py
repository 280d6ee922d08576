"""Text analysis for large-scale training-data pipelines.

These are the operations a 100 TB document-corpus pipeline needs on top of the
reference's extraction battery: language ID, quality scoring, token counting,
and document fingerprinting (SURVEY.md §5.3 / build-plan step 8). Everything
here is pure column expressions — JVM-side, whole-stage-codegen'd, no Python
in the hot path — and every function has an ANSI-SQL twin in
``__spark_entry__.oracle_sql`` so DuckDB verifies it value-for-value.

Portable hashing: ``portable_hash64`` is the md5-derived 60-bit hash (same
construction as functions/canon.url_hash_col) computable identically in
Spark, Python, and DuckDB — the basis for minhash/simhash oracle parity.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic marker-word lists for the language-ID heuristic.
# (A production impl would use char n-gram profiles; the operator shape —
# score per language, argmax with deterministic tiebreak — is what matters.)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "de": ("der", "die", "das", "und", "nicht", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "de", "un", "est"),
}

STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")

# A BPE-ish token: runs of letters, runs of digits, or single punctuation.
BPE_ISH_RE = r"[A-Za-z]+|\d+|[^A-Za-z\d\s]"

# Fingerprint modulus/base sized so the fold step acc*BASE + h (acc < MOD,
# h < 2^60) stays below 2^63 — Spark 4 runs ANSI mode (overflow throws) and
# DuckDB errors on BIGINT overflow: 1e9 * 1e6 + 1.2e18 < 9.2e18. Exact
# integer math, identical in Spark / DuckDB / Python.
FP_MOD = 1_000_000_007
FP_BASE = 1_000_003


def portable_hash64(c: Column) -> Column:
    """md5-derived 60-bit hash; DuckDB twin:
    ``cast(('0x' || substr(md5(x), 1, 15)) as bigint)``."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def tokens_col(text: Column) -> Column:
    """Whitespace tokens (empty tokens filtered) — shared with the SQL twin
    ``list_filter(string_split(text,' '), t -> t <> '')``."""
    return F.filter(F.split(text, " "), lambda t: t != "")


def ws_token_count_col(text: Column) -> Column:
    return F.size(tokens_col(text))


def bpe_ish_token_count_col(text: Column) -> Column:
    """Count of BPE-ish tokens (letter runs / digit runs / punct); the cheap
    proxy for LLM token counting over a 100 TB corpus."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_RE), 0))


def stopword_ratio_col(text: Column, stopwords: tuple[str, ...] = STOPWORDS_EN) -> Column:
    toks = tokens_col(F.lower(text))
    sw = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return sw / F.greatest(F.size(toks), F.lit(1))


# The exact character sets of the two former quality regexes, enumerated for
# translate(): [A-Za-z0-9\s] with Java's default ASCII \s = [ \t\n\x0B\f\r],
# and [A-Za-z].
_ALPHA = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
_ALNUM_WS = _ALPHA + "0123456789 \t\n\x0b\f\r"


def quality_score_col(text: Column) -> Column:
    """Length/punct/stopword quality heuristic in [0,1], rounded to 4 dp.

    score = 0.4*saturating(len/500) + 0.3*(1 - punct_ratio) + 0.3*alpha_ratio
    — the shape (cheap columnar features → weighted score) is the operator;
    weights are arbitrary but fixed and mirrored in the SQL oracle.

    The two character counts use ``translate`` (char-map deletion) instead of
    the original ``regexp_replace`` char-class rewrites — identical counts by
    exact char-set equality (``_ALNUM_WS`` enumerates [A-Za-z0-9\\s] with
    Java's default ASCII \\s; alpha = len - |non-alpha| via deleting exactly
    [A-Za-z]), at ~25x less per-char cost: the regex pair stepped the Java
    regex engine once per character of the corpus (measured ~50 core-seconds
    for the sf1.0 corpus at local[32]; the dominant cost of corpus_prep's
    quality gate).
    """
    n = F.length(text)
    len_part = F.least(n / F.lit(500.0), F.lit(1.0))
    punct = F.length(F.translate(text, _ALNUM_WS, ""))
    punct_ratio = punct / F.greatest(n, F.lit(1)).cast("double")
    alpha = n - F.length(F.translate(text, _ALPHA, ""))
    alpha_ratio = alpha / F.greatest(n, F.lit(1)).cast("double")
    raw = F.lit(0.4) * len_part + F.lit(0.3) * (F.lit(1.0) - punct_ratio) + F.lit(0.3) * alpha_ratio
    # floor-quantize rather than round: the raw doubles are bit-identical
    # across engines (same int inputs, same op order), while round-half
    # tiebreak rules differ between engines.
    return F.floor(raw * 10000) / 10000


def lang_score_col(text: Column, lang: str) -> Column:
    """# of marker-word hits for ``lang`` among the lowercased tokens."""
    toks = tokens_col(F.lower(text))
    return F.size(F.filter(toks, lambda t: t.isin(*LANG_MARKERS[lang])))


def lang_id_col(text: Column) -> Column:
    """argmax over language marker scores; ties broken by language name asc
    (deterministic, mirrored in SQL via a greatest-struct comparison)."""
    scored = [
        F.struct(lang_score_col(text, lg).alias("s"), F.lit(i).alias("nrank"), F.lit(lg).alias("lang"))
        # languages in REVERSE name order so that on equal score the
        # lexicographically-smaller name wins via greatest()
        for i, lg in enumerate(sorted(LANG_MARKERS, reverse=True))
    ]
    return F.greatest(*scored)["lang"]


def _floor_q(x: Column) -> Column:
    # floor-quantize to 4dp: bit-identical across engines (round-half rules
    # differ between Spark's BigDecimal and DuckDB's IEEE rounding)
    return F.floor(x * 10000) / 10000


def _units_4dp(name: str) -> str:
    return f"cast(round({name} * 10000) as bigint)"


def mean_4dp_col(name: str) -> Column:
    """Aggregate: the mean of a non-negative 4-dp column, rounded half-up to
    4 dp, exactly. ``round(avg(x), 4)`` depends on the order the doubles are
    summed in, so two engines can land on opposite sides of a 5th-decimal
    tie (0.8091, 0.9931, 0.9193, 0.7527 sum to a mean just below 0.86855 in
    one order and exactly on it in the other). Integer units round(x*10000)
    sum exactly, and (2*sum + n) div (2*n) is integer round-half-up of
    sum / n. SQL twin: :func:`sql_mean_4dp`."""
    u = _units_4dp(name)
    return F.expr(f"(2 * sum({u}) + count({u})) div (2 * count({u})) / 10000")


def dup_line_fraction_col(text: Column) -> Column:
    """Gopher-style repetition rule: fraction of non-empty lines that are
    duplicates of an earlier line (1 - distinct/total; 0 for empty docs)."""
    lines = F.filter(F.split(text, "\n"), lambda l: l != "")
    n = F.size(lines)
    return F.when(
        n > 0,
        _floor_q(F.lit(1.0) - F.size(F.array_distinct(lines)) / n.cast("double")),
    ).otherwise(F.lit(0.0))


def dup_ngram_fraction_col(text: Column, k: int = 2) -> Column:
    """Duplicate k-gram fraction over whitespace tokens (1 - distinct/total).

    The cheap columnar stand-in for Gopher's "fraction of characters in
    duplicate n-grams": all array ops, no shuffle, no Python.
    """
    toks = tokens_col(text)
    n = F.size(toks)
    if k == 2:
        # Bigram fast path: distinct over (tok[i], tok[i+1]) STRUCTS equals
        # distinct over the joined "tok[i] tok[i+1]" strings — tokens cannot
        # contain the separator (they come from splitting on it), so the
        # join is injective. Two slices + one zip_with instead of a
        # per-gram slice+concat string build (sf0.1 documents, local[32],
        # warm: 4.7s -> 1.1s for the full-column collect).
        grams = F.when(
            n >= 2,
            F.zip_with(
                F.slice(toks, 1, n - 1),
                F.slice(toks, 2, n - 1),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            ),
        ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    else:
        grams = F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.array_join(F.slice(toks, i, k), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
    total = F.size(grams)
    return F.when(
        total > 0,
        _floor_q(F.lit(1.0) - F.size(F.array_distinct(grams)) / total.cast("double")),
    ).otherwise(F.lit(0.0))


def symbol_word_ratio_col(text: Column) -> Column:
    """(# of '#' chars + '...' runs) per word — Gopher's symbol-to-word rule."""
    hashes = F.length(text) - F.length(F.regexp_replace(text, r"#", ""))
    ellipses = F.size(F.regexp_extract_all(text, F.lit(r"\.\.\."), 0))
    return _floor_q((hashes + ellipses) / F.greatest(F.size(tokens_col(text)), F.lit(1)).cast("double"))


def fingerprint_col(text: Column) -> Column:
    """Polynomial rolling hash over whitespace tokens mod 2^61-1 (F20-style
    document fingerprint). Exact integer math — oracle-identical.

    fp = fold(tokens, 0, (acc, t) -> (acc * FP_BASE + portable_hash64(t)) % FP_MOD)
    """
    return F.aggregate(
        tokens_col(text),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * FP_BASE + portable_hash64(t)) % F.lit(FP_MOD),
    )


# ------------------------------------------------------------- SQL builders
def sql_portable_hash64(expr: str) -> str:
    return f"cast(('0x' || substr(md5({expr}), 1, 15)) as bigint)"


def sql_mean_4dp(name: str) -> str:
    u = _units_4dp(name)
    return f"(2 * sum({u}) + count({u})) // (2 * count({u})) / 10000"


def sql_tokens(expr: str) -> str:
    return f"list_filter(string_split({expr}, ' '), t -> t <> '')"


def sql_fingerprint(expr: str) -> str:
    h = sql_portable_hash64("t")
    # DuckDB list_reduce has no initial accumulator: prepend a zero sentinel
    # token whose hash we replace with 0 via the first fold step shape.
    return (
        f"list_reduce(list_prepend(cast(0 as bigint), "
        f"list_transform({sql_tokens(expr)}, t -> {h})), "
        f"(acc, hv) -> (acc * {FP_BASE} + hv) % {FP_MOD})"
    )


# ----------------------------------------------------- Arrow-batched battery
# Python twins of the column expressions, shared by every Arrow pass.

# BPE_ISH_RE under re.ASCII: \d = [0-9] and \s = [ \t\n\x0b\f\r], exactly
# Java's default classes, so the match counts equal regexp_extract_all's.
_BPE_ISH_PY = re.compile(BPE_ISH_RE, re.ASCII)
_LANGS_REV = sorted(LANG_MARKERS, reverse=True)  # nrank asc = name desc
_MARKER_SETS = {lg: frozenset(words) for lg, words in LANG_MARKERS.items()}


def _tokens_py(txt: str | None) -> list[str]:
    """Python twin of :func:`tokens_col` — split on single spaces, drop
    empty tokens. Identical token lists by construction."""
    return [t for t in (txt or "").split(" ") if t]


def _lang_guess_py(low: list[str]) -> tuple[str, dict[str, int]]:
    """Python twin of :func:`lang_id_col` / :func:`lang_score_col` over the
    lowercased tokens: (guess, per-language marker hits). Ties break like the
    greatest()-over-structs form: max over (score, nrank, lang)."""
    scores = {lg: sum(1 for x in low if x in ms) for lg, ms in _MARKER_SETS.items()}
    return max((scores[lg], i, lg) for i, lg in enumerate(_LANGS_REV))[2], scores


def _metrics_batch_fn():
    """mapInArrow body for :func:`text_metrics_arrow` — exact Python twins of
    the column expressions above, one pass per doc (guide §4.2: the HOF
    forms step an interpreted lambda per token/line/gram; this loop is plain
    C-speed str/set work). Bit-exactness notes per field:

    - every count is an exact int (tokens, lines, grams, marker hits,
      translate-deletion char counts, regex match counts — the Python
      patterns run under re.ASCII, Java's default \\d/\\s classes);
    - every double is produced by the SAME IEEE op sequence as the column
      form (int/int division, left-to-right weighted sum for quality,
      ``floor(x * 10000) / 10000`` quantization), so values are
      bit-identical, not merely close;
    - lang_id ties break as in :func:`_lang_guess_py`.
    """

    def run(batches):
        import math

        import pyarrow as pa

        ell_re = re.compile(r"\.\.\.")
        del_alnum_ws = str.maketrans("", "", _ALNUM_WS)
        del_alpha = str.maketrans("", "", _ALPHA)
        stop = frozenset(STOPWORDS_EN)
        floor = math.floor

        for batch in batches:
            ids = batch.column("doc_id").to_pylist()
            texts = batch.column("text").to_pylist()
            cols: dict[str, list] = {
                "doc_id": ids, "lang_guess": [], "s_en": [], "s_de": [], "s_fr": [],
                "quality": [], "ws_tokens": [], "bpe_tokens": [], "stopword_ratio": [],
                "dup_line_frac": [], "dup_2gram_frac": [], "symbol_word_ratio": [],
            }
            for txt in texts:
                t = txt or ""
                toks = _tokens_py(t)
                low = _tokens_py(t.lower())
                nt = len(toks)
                guess, scores = _lang_guess_py(low)
                cols["s_en"].append(scores["en"])
                cols["s_de"].append(scores["de"])
                cols["s_fr"].append(scores["fr"])
                cols["lang_guess"].append(guess)
                n = len(t)
                len_part = min(n / 500.0, 1.0)
                punct_ratio = len(t.translate(del_alnum_ws)) / max(n, 1)
                alpha_ratio = (n - len(t.translate(del_alpha))) / max(n, 1)
                raw = 0.4 * len_part + 0.3 * (1.0 - punct_ratio) + 0.3 * alpha_ratio
                cols["quality"].append(floor(raw * 10000) / 10000)
                cols["ws_tokens"].append(nt)
                cols["bpe_tokens"].append(len(_BPE_ISH_PY.findall(t)))
                cols["stopword_ratio"].append(
                    sum(1 for x in low if x in stop) / max(nt, 1)
                )
                lines = [x for x in t.split("\n") if x]
                nl = len(lines)
                cols["dup_line_frac"].append(
                    floor((1.0 - len(set(lines)) / nl) * 10000) / 10000 if nl > 0 else 0.0
                )
                if nt >= 2:
                    ng = nt - 1
                    dng = len(set(zip(toks, toks[1:])))
                    cols["dup_2gram_frac"].append(floor((1.0 - dng / ng) * 10000) / 10000)
                else:
                    cols["dup_2gram_frac"].append(0.0)
                sym = t.count("#") + len(ell_re.findall(t))
                cols["symbol_word_ratio"].append(floor(sym / max(nt, 1) * 10000) / 10000)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(cols["doc_id"], pa.int64()),
                    pa.array(cols["lang_guess"], pa.string()),
                    *[pa.array(cols[c], pa.int64()) for c in ("s_en", "s_de", "s_fr")],
                    pa.array(cols["quality"], pa.float64()),
                    *[pa.array(cols[c], pa.int64()) for c in ("ws_tokens", "bpe_tokens")],
                    *[
                        pa.array(cols[c], pa.float64())
                        for c in ("stopword_ratio", "dup_line_frac", "dup_2gram_frac", "symbol_word_ratio")
                    ],
                ],
                names=[
                    "doc_id", "lang_guess", "s_en", "s_de", "s_fr", "quality",
                    "ws_tokens", "bpe_tokens", "stopword_ratio", "dup_line_frac",
                    "dup_2gram_frac", "symbol_word_ratio",
                ],
            )

    return run


def text_metrics_arrow(df, id_col: str, text_col: str):
    """The full per-document metric battery in ONE Arrow-batched pass —
    value-for-value identical to composing the column expressions above
    (see :func:`_metrics_batch_fn` for the per-field exactness argument;
    ``stopword_ratio`` is emitted RAW, callers apply their own rounding
    exactly as with the column form)."""
    return df.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text")
    ).mapInArrow(
        _metrics_batch_fn(),
        "doc_id long, lang_guess string, s_en long, s_de long, s_fr long, "
        "quality double, ws_tokens long, bpe_tokens long, stopword_ratio double, "
        "dup_line_frac double, dup_2gram_frac double, symbol_word_ratio double",
    )


def _lang_bpe_fn():
    """mapInArrow body for :func:`lang_bpe_quality_arrow`: lang_id + BPE-ish
    token count (the same Python twins as _metrics_batch_fn) with the
    precomputed quality column passed through untouched."""

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            guesses: list[str] = []
            bpes: list[int] = []
            for txt in batch.column("text").to_pylist():
                t = txt or ""
                guesses.append(_lang_guess_py(_tokens_py(t.lower()))[0])
                bpes.append(len(_BPE_ISH_PY.findall(t)))
            yield pa.RecordBatch.from_arrays(
                [pa.array(guesses, pa.string()), pa.array(bpes, pa.int64()), batch.column("quality")],
                names=["lang_guess", "bpe", "quality"],
            )

    return run


def lang_bpe_quality_arrow(df, text_col: str, quality_col: str):
    """(lang_guess, bpe, quality) in one Arrow pass — the corpus_prep final
    projection without per-token HOF stepping; quality is a passthrough."""
    return df.select(
        F.col(text_col).alias("text"), F.col(quality_col).cast("double").alias("quality")
    ).mapInArrow(_lang_bpe_fn(), "lang_guess string, bpe long, quality double")
