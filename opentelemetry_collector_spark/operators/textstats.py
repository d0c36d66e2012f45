"""Text analysis operators for corpus curation.

Language-ID (stopword/n-gram heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and document fingerprinting (md5 content
digest + rolling-hash winnowing). All pure built-in expressions — the
whole module stays inside whole-stage codegen and every statistic is
reproducible in the DuckDB oracle (same md5, same regexes, same rounding).

Scale: every operator here is a narrow per-row projection — zero shuffles;
at 100 TB these run at scan speed and column-prune down to ``text``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..pins import pin
from .batch import one_partition_window
from .dedup import md5_long, tokenize

# BPE-ish pre-tokenizer: letter runs, digit runs, or single non-space marks
# (the GPT-2 pre-tokenizer's shape without the lookbehinds, so the same
# pattern runs identically under Java regex and DuckDB RE2).
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

# Tiny deterministic stopword inventories for the lang-id heuristic.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "auf"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "de", "dans", "pour"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "de", "en", "para"),
}


# Encoding-sanity patterns, shared VERBATIM with the DuckDB oracle so the
# two engines cannot drift (RE2 ∩ Java subset: two-digit \xhh escapes,
# literal codepoints, one class per alternative — no lookaround, no
# engine-specific anchors).
#
# C0 control characters minus \t\n\r, plus DEL: never legitimate in
# extracted web text; their presence marks a binary-in-text or charset
# mis-detection upstream.
CTRL_CHAR_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
# Anything outside printable ASCII + \t\n\r (for the ascii_ratio signal —
# a RATIO, not a filter: legitimate non-English text scores low without
# being flagged; the boolean gate below never uses it).
NON_ASCII_RE = r"[^\x09\x0a\x0d\x20-\x7e]"
# Classic mojibake: UTF-8 bytes re-decoded as Latin-1/cp1252 turn every
# multi-byte sequence into a lead char (Â U+00C2 / Ã U+00C3) followed by
# high-Latin garbage ("CafÃ©"), or the cp1252 smart-quote family
# "â€™"/"â€œ" (â U+00E2 + € U+20AC + a quote/dash/ellipsis char).
MOJIBAKE_RE = (
    "[ÂÃ][-ÿ]"
    "|â€[‘’“”–—…™œ˜¢¦]"
)


def _encoding_exprs(text: Column) -> dict[str, Column]:
    """The five encoding-sanity expressions over one text column — used by
    both :func:`encoding_signals` and the :func:`text_signals` one-pass
    projection so the standalone and fused forms cannot diverge."""
    n = F.length(text)
    repl = F.regexp_count(text, F.lit("�"))
    ctrl = F.regexp_count(text, F.lit(CTRL_CHAR_RE))
    moji = F.regexp_count(text, F.lit(MOJIBAKE_RE))
    ascii_ratio = F.when(
        n > 0,
        (n - F.regexp_count(text, F.lit(NON_ASCII_RE))).cast("double") / n,
    ).otherwise(F.lit(1.0))
    return {
        "repl_chars": repl.cast("long"),
        "ctrl_chars": ctrl.cast("long"),
        "mojibake_seqs": moji.cast("long"),
        "ascii_ratio": F.round(ascii_ratio, 4),
        "encoding_ok": (repl == 0) & (ctrl == 0) & (moji == 0),
    }


def encoding_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document encoding-sanity signals — the charset-corruption
    quality gate every Common-Crawl curation pipeline runs before
    language ID or dedup (corrupt pages poison shingles and LM scores):

    - ``repl_chars``: U+FFFD replacement characters (a lossy decode
      already happened upstream);
    - ``ctrl_chars``: C0 controls (minus ``\\t\\n\\r``) + DEL;
    - ``mojibake_seqs``: UTF-8-as-Latin-1/cp1252 double-decode artifacts
      ("CafÃ©", "â€™");
    - ``ascii_ratio``: printable-ASCII fraction (diagnostic ratio only);
    - ``encoding_ok``: no replacement, control, or mojibake hits.

    Pure codegen regex counts — zero shuffles, zero Python; at 100 TB
    this runs at scan speed and column-prunes to ``text``. The boolean
    gate feeds the same drop/flag plumbing as the C4/Gopher filters.
    """
    text = F.col(text_col)
    e = _encoding_exprs(text)
    return df.select(
        F.col(id_col),
        F.length(text).cast("long").alias("n_chars"),
        *[c.alias(name) for name, c in e.items()],
    )


def token_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Whitespace + BPE-ish token counts and n_chars per document."""
    ws = tokenize(F.col(text_col))
    bpe = F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_RE), 0)
    return df.select(
        F.col(id_col),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        F.size(ws).cast("long").alias("ws_tokens"),
        F.size(bpe).cast("long").alias("bpe_tokens"),
    )


def text_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    encoding_col: str | None = None,
) -> DataFrame:
    """All per-document text-analysis signals in ONE narrow projection:
    token counts (:func:`token_stats`), quality features
    (:func:`quality_score`), stopword-vote language ID (:func:`lang_id`),
    content digests (:func:`fingerprint`), and encoding sanity
    (:func:`encoding_signals`) — column semantics identical to the
    individual operators, computed in a single pass so one scan yields
    the full curation feature row (and one driver oracle evidences all
    five operator families).

    ``encoding_col`` points the encoding-sanity block at a different
    column (default: ``text_col``) — the driver query uses it to probe a
    deterministically corrupted twin while every other signal reads the
    clean text.

    Zero shuffles; at 100 TB this runs at scan speed and column-prunes to
    ``text``.
    """
    text = F.col(text_col)
    enc = _encoding_exprs(F.col(encoding_col or text_col))
    bpe = F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0)

    # every token-array consumer lives in ONE bound lambda: expressions
    # referenced from inside lambda scopes are re-inlined per call site
    # (no cross-scope CSE — the winnowing/minhash lesson), so a shared
    # `w = tokenize(text)` would re-split the text once per signal (8×,
    # one per lang vote alone). The single-element transform bind
    # materializes the split once; the outer projection's repeated struct
    # references CSE normally (they are not inside lambda scopes).
    def _tok_signals(w: Column) -> Column:
        n = F.size(w)
        total_len = F.aggregate(
            F.transform(w, lambda t: F.length(t).cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        stop_en = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
        n_stop = F.size(F.filter(w, lambda t: F.array_contains(stop_en, t)))
        votes = []
        for lang_code in sorted(STOPWORDS):
            arr = F.array(*[F.lit(s) for s in STOPWORDS[lang_code]])
            votes.append(
                F.size(F.filter(w, lambda t: F.array_contains(arr, t)))
                .alias(f"s_{lang_code}")
            )
        return F.struct(n.alias("n"), total_len.alias("tl"), n_stop.alias("ns"), *votes)

    s = F.element_at(F.transform(F.array(tokenize(text)), _tok_signals), 1)
    df = df.withColumn("__s", s)
    n = F.col("__s.n")
    # quality features (quality_score semantics, verbatim)
    mean_word_len = F.when(n > 0, F.col("__s.tl") / n).otherwise(F.lit(0.0))
    stopword_ratio = F.when(
        n > 0, F.col("__s.ns").cast("double") / n
    ).otherwise(F.lit(0.0))
    n_alpha = F.length(F.regexp_replace(text, "[^A-Za-z ]", ""))
    alpha_ratio = F.when(
        F.length(text) > 0, n_alpha.cast("double") / F.length(text)
    ).otherwise(F.lit(0.0))
    ws_norm = F.least(n.cast("double") / F.lit(100.0), F.lit(1.0))
    score = F.lit(0.4) * ws_norm + F.lit(0.3) * stopword_ratio + F.lit(0.3) * alpha_ratio
    # lang-id votes (lang_id semantics, verbatim)
    scores = {c: F.col(f"__s.s_{c}") for c in sorted(STOPWORDS)}
    entries = F.array(
        *[
            F.struct((-scores[c]).alias("neg"), F.lit(c).alias("lang"))
            for c in sorted(STOPWORDS)
        ]
    )
    best = F.sort_array(entries).getItem(0)
    pred = F.when(-best.getField("neg") > 0, best.getField("lang")).otherwise(F.lit("und"))
    norm = F.regexp_replace(F.lower(F.trim(text)), " +", " ")
    return df.select(
        F.col(id_col),
        F.length(text).cast("long").alias("n_chars"),
        n.cast("long").alias("ws_tokens"),
        F.size(bpe).cast("long").alias("bpe_tokens"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        F.round(stopword_ratio, 4).alias("stopword_ratio"),
        F.round(alpha_ratio, 4).alias("alpha_ratio"),
        F.round(score, 4).alias("quality"),
        *[scores[c].cast("long").alias(f"score_{c}") for c in sorted(STOPWORDS)],
        pred.alias("pred_lang"),
        F.md5(text).alias("md5_raw"),
        F.md5(norm).alias("md5_norm"),
        *[c.alias(name) for name, c in enc.items()],
    )


def quality_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heuristic quality features + a composite score.

    Features (all 4-dp rounded for engine parity):
    - mean_word_len: avg token length over whitespace tokens;
    - stopword_ratio: fraction of tokens in the English stoplist;
    - alpha_ratio: fraction of [A-Za-z ] characters in the text;
    - score: 0.4·min(ws_tokens/100,1) + 0.3·stopword_ratio + 0.3·alpha_ratio.
    """
    text = F.col(text_col)

    # token-array consumers live in one bound lambda (see text_signals:
    # lambda call sites re-inline a shared tokenize, no cross-scope CSE)
    def _tok(w: Column) -> Column:
        stop_arr = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
        return F.struct(
            F.size(w).alias("n"),
            F.aggregate(
                F.transform(w, lambda t: F.length(t).cast("double")),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("tl"),
            F.size(F.filter(w, lambda t: F.array_contains(stop_arr, t))).alias("ns"),
        )

    df = df.withColumn("__s", F.element_at(F.transform(F.array(tokenize(text)), _tok), 1))
    n = F.col("__s.n")
    mean_word_len = F.when(n > 0, F.col("__s.tl") / n).otherwise(F.lit(0.0))
    stopword_ratio = F.when(
        n > 0, F.col("__s.ns").cast("double") / n
    ).otherwise(F.lit(0.0))
    n_alpha = F.length(F.regexp_replace(text, "[^A-Za-z ]", ""))
    alpha_ratio = F.when(
        F.length(text) > 0, n_alpha.cast("double") / F.length(text)
    ).otherwise(F.lit(0.0))
    ws_norm = F.least(n.cast("double") / F.lit(100.0), F.lit(1.0))
    score = F.lit(0.4) * ws_norm + F.lit(0.3) * stopword_ratio + F.lit(0.3) * alpha_ratio
    return df.select(
        F.col(id_col),
        n.cast("long").alias("ws_tokens"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        F.round(stopword_ratio, 4).alias("stopword_ratio"),
        F.round(alpha_ratio, 4).alias("alpha_ratio"),
        F.round(score, 4).alias("quality"),
    )


def lang_id(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Stopword-vote language ID over {en, de, fr, es} (+ 'und' fallback).

    Score per language = #tokens in that language's stoplist; winner by
    (score DESC, language ASC); 'und' when all scores are 0. Deterministic
    and exactly reproducible in SQL.
    """
    # one bound lambda computes every language's vote (a shared tokenize
    # would re-split the text once per language — no cross-scope CSE)
    def _votes(w: Column) -> Column:
        cols = []
        for lang_code in sorted(STOPWORDS):
            arr = F.array(*[F.lit(s) for s in STOPWORDS[lang_code]])
            cols.append(
                F.size(F.filter(w, lambda t: F.array_contains(arr, t)))
                .alias(f"s_{lang_code}")
            )
        return F.struct(*cols)

    df = df.withColumn(
        "__v",
        F.element_at(F.transform(F.array(tokenize(F.col(text_col))), _votes), 1),
    )
    scores: dict[str, Column] = {
        c: F.col(f"__v.s_{c}") for c in sorted(STOPWORDS)
    }
    # argmax with (score desc, lang asc) tiebreak via sort of structs
    entries = F.array(
        *[
            F.struct((-scores[c]).alias("neg"), F.lit(c).alias("lang"))
            for c in sorted(STOPWORDS)
        ]
    )
    best = F.sort_array(entries).getItem(0)
    pred = F.when(-best.getField("neg") > 0, best.getField("lang")).otherwise(F.lit("und"))
    return df.select(
        F.col(id_col),
        *[scores[c].cast("long").alias(f"score_{c}") for c in sorted(STOPWORDS)],
        pred.alias("pred_lang"),
    )


def fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Content digests: md5 of the raw text and of the normalized form
    (lowercased, whitespace collapsed) — the exact-dedup keys."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), " +", " ")
    return df.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("md5_raw"),
        F.md5(norm).alias("md5_norm"),
    )


def hash_sample(
    df: DataFrame,
    pct: float,
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Deterministic hash sampling: keep rows whose salted md5 bucket
    falls below ``pct`` (0..1). The right sampler for corpus curation at
    scale — reproducible across runs/engines (unlike RNG `sample()`),
    stable under repartitioning, and composable (different salts give
    independent samples). Narrow op: no shuffle, filter pushes to scan."""
    if not 0.0 <= pct <= 1.0:
        raise ValueError(f"pct must be in [0, 1], got {pct}")
    bucket = F.pmod(
        md5_long(F.concat(F.lit(salt), F.lit(":"), F.col(id_col))), F.lit(10_000)
    )
    return df.where(bucket < int(round(pct * 10_000)))


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing (Schleimer et al., SIGMOD'03): distinct window-minima of
    k-gram hashes — the standard partial-overlap fingerprint.

    Columnar formulation: character k-gram hash array via transform over a
    position sequence, then a second transform takes the min over each
    length-``window`` sliding slice; array_distinct of the minima are the
    document's fingerprints. Narrow op — no shuffle, no UDF.

    The gram hash is the classic Rabin-Karp polynomial over Unicode code
    points, h = Σ cp(text[i+j])·B^(k-1-j) with B=257 — pure int64
    arithmetic the DuckDB oracle replays digit-for-digit (Spark ascii()
    ≡ DuckDB unicode(): both return the code point; max value
    0x10FFFF·ΣB^j ≈ 2^52, no overflow, no modulus needed). An earlier
    revision hashed each gram with md5(substring) — engine-parity too,
    but ~6× slower: |text| md5 calls per doc (hex conv + string allocs)
    vs one code-point array and 5 multiplies per gram.

    The code-point array is bound through a single-element transform
    lambda so it is evaluated ONCE per row: referencing the array
    expression directly from size() and every gram re-inlines it per
    element (no common-subexpression elimination across lambda scopes),
    turning |text| ascii() calls into |text|² — the winnowing/minhash
    lesson.
    """
    text = F.col(text_col)
    n_grams = F.length(text) - F.lit(k - 1)
    codepoints = F.transform(
        F.sequence(F.lit(1), F.length(text)),
        lambda i: F.ascii(F.substring(text, i, 1)).cast("long"),
    )
    powers = [257 ** (k - 1 - j) for j in range(k)]

    def _gram_hashes(cps: Column) -> Column:
        return F.when(
            n_grams >= 1,
            F.transform(
                F.sequence(F.lit(1), n_grams),
                lambda i: sum(
                    (
                        F.element_at(cps, i + j) * F.lit(powers[j])
                        for j in range(1, k)
                    ),
                    start=F.element_at(cps, i) * F.lit(powers[0]),
                ),
            ),
        ).otherwise(F.array().cast("array<long>"))

    gram_hashes = F.element_at(
        F.transform(F.array(codepoints), lambda cps: _gram_hashes(cps)), 1
    )

    def _minima(gh: Column) -> Column:
        n_windows = F.size(gh) - F.lit(window - 1)
        return F.array_distinct(
            F.when(
                n_windows >= 1,
                F.transform(
                    F.sequence(F.lit(1), n_windows),
                    lambda i: F.array_min(F.slice(gh, i, window)),
                ),
            ).otherwise(gh)
        )

    # bind once: transform's lambda variable is a materialized value
    fingerprints = F.element_at(
        F.transform(F.array(gram_hashes), lambda gh: _minima(gh)), 1
    )
    return df.select(F.col(id_col), fingerprints.alias("fingerprints"))


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition statistics — the duplicate-content quality
    signals large-corpus curation applies before training (duplicate-word
    and duplicate-n-gram fractions, dominant-token share, mean word
    length; the Gopher-rules family of repetition filters, here over
    whitespace tokens).

    Output (all 4-dp rounded):
    - ``n_words``
    - ``dup_word_frac``   = 1 − |distinct words| / n_words
    - ``dup_2gram_frac``  = 1 − |distinct 2-grams| / (n_words − 1), 0 when
      fewer than 2 words
    - ``top_word_frac``   = max single-token frequency / n_words
    - ``mean_word_len``

    Zero shuffles: everything is array expressions over one bound token
    array (single-element-transform bind — no CSE across lambda scopes).
    ``top_word_frac`` is O(distinct × n) per row — bounded by document
    length, never by corpus size.
    """
    # NULL-text documents are excluded (the SQL twin's unnest-join drops
    # them; size(NULL) would otherwise emit a nonsense n_words=-1 row)
    df = df.where(F.col(text_col).isNotNull())
    s = F.element_at(
        F.transform(F.array(tokenize(F.col(text_col))), _repetition_struct), 1
    )
    return df.withColumn("__s", s).select(
        F.col(id_col),
        F.col("__s.n_words").alias("n_words"),
        F.round("__s.dup_word_frac", 4).alias("dup_word_frac"),
        F.round("__s.dup_2gram_frac", 4).alias("dup_2gram_frac"),
        F.round("__s.top_word_frac", 4).alias("top_word_frac"),
        F.round("__s.mean_word_len", 4).alias("mean_word_len"),
    )


def _repetition_struct(w: Column) -> Column:
    """Repetition statistics over one bound token array (see
    :func:`repetition_signals` — must be called through the
    single-element-transform bind so ``w`` is a materialized value)."""
    n = F.size(w)
    distinct = F.array_distinct(w)
    grams = F.transform(
        F.sequence(F.lit(1), n - F.lit(1)),
        lambda i: F.concat(
            F.element_at(w, i), F.lit(" "), F.element_at(w, i + F.lit(1))
        ),
    )
    dup2 = F.when(
        n >= 2,
        F.lit(1.0) - F.size(F.array_distinct(grams)) / (n - F.lit(1)),
    ).otherwise(F.lit(0.0))
    top = F.array_max(
        F.transform(distinct, lambda t: F.size(F.filter(w, lambda x: x == t)))
    )
    mean_len = F.aggregate(
        w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    ) / n
    return F.struct(
        n.cast("long").alias("n_words"),
        (F.lit(1.0) - F.size(distinct) / n).alias("dup_word_frac"),
        dup2.alias("dup_2gram_frac"),
        (top / n).alias("top_word_frac"),
        mean_len.alias("mean_word_len"),
    )


def _entropy_of(cs: Column) -> Column:
    """Shannon entropy (bits/symbol) of one bound character array.

    The split array (and each per-char probability) must be bound through
    single-element transform lambdas so they evaluate ONCE: expressions
    referenced from inside lambda scopes are re-inlined per element (no
    cross-scope CSE — the winnowing/minhash lesson), which would re-split
    the text ~2×alphabet times per row. Per-character terms are 9-dp
    rounded (libm log2 1-ulp cross-engine guard)."""
    n = F.size(cs)

    def term(c: Column) -> Column:
        p = F.size(F.filter(cs, lambda x: x == c)) / n
        return F.element_at(
            F.transform(F.array(p), lambda q: F.round(q * F.log2(q), 9)), 1
        )

    return F.when(
        n > 0,
        -F.aggregate(
            F.array_distinct(cs), F.lit(0.0), lambda acc, c: acc + term(c)
        ),
    ).otherwise(F.lit(0.0))


def doc_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Repetition statistics (:func:`repetition_signals`) and Shannon
    character entropy (:func:`char_entropy`) in ONE narrow projection —
    the per-document gibberish/boilerplate signal row, same column
    semantics as the individual operators, one scan, zero shuffles.
    NULL-text documents are excluded (repetition_signals semantics)."""
    df = df.where(F.col(text_col).isNotNull())
    text = F.col(text_col)
    s = F.element_at(F.transform(F.array(tokenize(text)), _repetition_struct), 1)
    ent = F.element_at(F.transform(F.array(F.split(text, "")), _entropy_of), 1)
    return df.withColumn("__s", s).select(
        F.col(id_col),
        F.col("__s.n_words").alias("n_words"),
        F.round("__s.dup_word_frac", 4).alias("dup_word_frac"),
        F.round("__s.dup_2gram_frac", 4).alias("dup_2gram_frac"),
        F.round("__s.top_word_frac", 4).alias("top_word_frac"),
        F.round("__s.mean_word_len", 4).alias("mean_word_len"),
        F.coalesce(F.length(text), F.lit(0)).cast("long").alias("n_chars"),
        (F.round(F.coalesce(ent, F.lit(0.0)), 4) + F.lit(0.0)).alias(
            "entropy_bits_per_char"
        ),
    )


def c4_lines_kept(text: Column, min_words_per_line: int = 5):
    """(lines, kept_lines) for the C4 line rule — shared by the oracle'd
    :func:`c4_line_filter` and the config-declarable `c4_clean`
    processor so the two can never drift. Split on \\r?\\n (CRLF pages
    would otherwise keep a trailing \\r that Java's $ forgives but RE2's
    does not) and anchor with \\z so the Spark regex matches only true
    end-of-string, like the oracle's RE2 $."""
    lines = F.split(text, "\\r?\\n")
    keep_line = lambda l: F.trim(l).rlike('[.!?"]\\z') & (
        F.size(F.split(F.trim(l), " +")) >= min_words_per_line
    )
    return lines, F.filter(lines, keep_line)


def c4_page_flags(text: Column):
    """(has_brace, has_lorem) — C4's page-level disqualifiers."""
    return (
        text.contains("{") | text.contains("}"),
        F.lower(text).contains("lorem ipsum"),
    )


def c4_line_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4's line-level cleanup (Raffel et al. 2020 §2.2): keep only lines
    that end in terminal punctuation AND carry at least
    ``min_words_per_line`` words; flag pages containing code braces or
    the "lorem ipsum" placeholder; a page is ``doc_ok`` when at least
    ``min_kept_lines`` lines survive and neither flag fired.

    Output: ``(id, n_lines, n_kept, doc_ok, clean_text)`` — the edited
    page plus the audit counters. Zero shuffles: line split, per-line
    predicate, and rebuild are array expressions at scan speed; the
    punctuation test is a dialect-independent regex class.
    """
    text = F.col(text_col)
    lines, kept = c4_lines_kept(text, min_words_per_line)
    has_brace, has_lorem = c4_page_flags(text)
    return df.where(text.isNotNull()).select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        (
            (F.size(kept) >= min_kept_lines) & ~has_brace & ~has_lorem
        ).alias("doc_ok"),
        F.array_join(kept, "\n").alias("clean_text"),
    )


def boilerplate_lines(
    df: DataFrame,
    host_col: str = "host",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_frac: float = 0.5,
    min_pages: int = 2,
) -> DataFrame:
    """Host-scoped boilerplate line removal (the CCNet/jusText-family
    template-chrome step): a line that appears on ≥ ``min_frac`` of a
    host's pages (host having ≥ ``min_pages`` pages) is navigation,
    cookie-banner, or footer chrome — not content — and is stripped from
    every page of that host. Returns one row per input page:
    ``(id, host, n_lines, n_boiler_lines, clean_text)``; a page whose
    every line is boilerplate survives with ``clean_text = ''``.

    All lines are treated equally, including empty ones — a blank
    separator repeated across a host's pages is chrome too.

    Scale: lines explode map-side (md5 keys, 32 bytes); the page-fraction
    count is ONE groupBy on (host, digest) with a partial-aggregated
    count_distinct; the boilerplate set is host-keyed and corpus-sized in
    the worst case, so membership is a keyed LEFT ANTI join — broadcast
    would be the bug, same posture as paragraph dedup; reassembly is a
    groupBy on the page id with an in-group position sort (never a global
    sort). No driver-side state.
    """
    host, did, text = F.col(host_col), F.col(id_col), F.col(text_col)
    lines = df.select(
        host.alias("__h"),
        did.alias("__id"),
        F.posexplode(F.split(text, "\n")).alias("__pos", "__line"),
    ).withColumn("__d", F.md5(F.col("__line")))
    per_line = lines.groupBy("__h", "__d").agg(
        F.count_distinct(F.col("__id")).alias("__n_with")
    )
    per_host = df.groupBy(host.alias("__h")).agg(
        F.count_distinct(did).alias("__n_pages")
    )
    boiler = (
        per_line.join(per_host, "__h")
        .where(
            (F.col("__n_pages") >= F.lit(min_pages))
            # floor at 2 SHARED pages: on an exactly-2-page host the
            # fraction threshold alone is n_pages*0.5 = 1.0, which a line
            # appearing on a single page satisfies — stripping every
            # unique line of every 2-page host. A line on one page can
            # never be template chrome.
            & (F.col("__n_with") >= F.lit(2))
            & (F.col("__n_with") >= F.col("__n_pages") * F.lit(min_frac))
        )
        .select("__h", "__d")
    )
    kept = lines.join(boiler, ["__h", "__d"], "left_anti")
    rebuilt = kept.groupBy("__id").agg(
        F.count(F.lit(1)).alias("__n_kept"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
        ).alias("clean_text"),
    )
    base = df.select(
        did.alias("__id"),
        host.alias("host"),
        F.size(F.split(text, "\n")).cast("long").alias("n_lines"),
    )
    return base.join(rebuilt, "__id", "left").select(
        F.col("__id").alias(id_col),
        "host",
        "n_lines",
        (F.col("n_lines") - F.coalesce(F.col("__n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_boiler_lines"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


def badwords_filter(
    df: DataFrame,
    words: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4's word-blocklist page filter (Raffel et al. 2020 §2.2: drop any
    page containing a listed term): tokenize on non-alphanumeric runs,
    intersect with the blocklist, and flag the page.

    The blocklist rides the plan as a LITERAL array (it is a config
    artifact of at most a few thousand terms), so matching is a
    whole-stage-codegen ``array_intersect`` at scan speed — no join, no
    shuffle, no Python. Matching is whole-token (``badword`` does not
    fire on ``embadwordded``) and case-insensitive, the documented C4
    behavior. Output: ``(id, n_bad_terms, ok)`` where ``n_bad_terms``
    counts DISTINCT blocklist terms present and ``ok`` is True when the
    page is clean.
    """
    toks = F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
    hits = F.array_intersect(
        toks, F.array(*[F.lit(w.lower()) for w in words])
    )
    return df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.size(hits).cast("long").alias("n_bad_terms"),
        (F.size(hits) == 0).alias("ok"),
    )


def normalize_text(text: Column) -> Column:
    """CCNet-style normalization for dedup hashing (Wenzek et al. 2020
    §4.1 shape): lowercase, strip everything outside [a-z0-9 ], collapse
    whitespace runs, trim. Near-identical pages that differ only in
    case, punctuation, or spacing hash to the SAME digest — the
    canonicalization web dedup applies before exact hashing.

    Pure built-ins, identical semantics in Spark (Java regex) and DuckDB
    (RE2): the character classes used are dialect-independent. ASCII
    folding only — non-Latin text passes through minus the stripped
    classes, which is the documented CCNet behavior for its hash key.
    """
    lowered = F.lower(text)
    stripped = F.regexp_replace(lowered, "[^a-z0-9 ]", "")
    return F.trim(F.regexp_replace(stripped, " +", " "))


# Gopher-family composite keep/drop rules (Rae et al. 2021 §A1.1 shape;
# thresholds are the knobs). Each rule reads the 4-dp ROUNDED doc_signals
# columns so the pass/fail decision is identical in both engines — a
# raw-double comparison could flip on a last-ulp divergence exactly at a
# threshold. Order is the emission order of fail_reasons.
GOPHER_RULES: tuple[tuple[str, str], ...] = (
    ("word_count", "n_words < 50 OR n_words > 100000"),
    ("mean_word_len", "mean_word_len < 3.0 OR mean_word_len > 10.0"),
    ("dup_words", "dup_word_frac > 0.3"),
    ("dup_2grams", "dup_2gram_frac > 0.2"),
    ("top_word", "top_word_frac > 0.2"),
    ("entropy", "entropy_bits_per_char < 2.0"),
)


def gopher_filter(signals: DataFrame) -> DataFrame:
    """Composite quality filter over a :func:`doc_signals` frame: appends
    ``fail_reasons`` (comma-joined failed rule names, '' when clean) and
    ``keep`` (no rule failed) — the pipeline's keep/drop decision WITH
    its explanation, so curation sweeps can report per-rule drop rates
    instead of a bare survivor count. Pure narrow projection over
    already-computed signals; composes with the fan-out/scan cost of
    doc_signals itself.
    """
    reasons = F.concat_ws(
        ",",
        *[F.when(F.expr(cond), F.lit(name)) for name, cond in GOPHER_RULES],
    )
    return signals.withColumn("fail_reasons", reasons).withColumn(
        "keep", F.col("fail_reasons") == ""
    )


def sample_stratified(
    df: DataFrame,
    group_col: str = "lang",
    n_per_group: int = 50,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic quota sampling: keep the ``n_per_group`` documents
    with the smallest salted-md5 rank inside each group — the
    per-language/per-source quota pass of corpus curation (reproducible:
    the same corpus always yields the same sample, and adding documents
    only perturbs groups whose hash order changes).

    One rank window per group; at 100 TB the group key (language, source
    bucket) has modest cardinality and the window's partial sort spills —
    for extreme groups switch to the two-phase top-k used by ANN
    (per-partition candidates capped at n first).
    """
    from pyspark.sql import Window

    h = F.md5(F.concat(F.lit("sample:"), F.col(id_col).cast("string")))
    w = Window.partitionBy(F.col(group_col)).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= n_per_group)
        .select(
            F.col(id_col),
            F.col(group_col),
            F.col("__rk").cast("long").alias("sample_rank"),
        )
    )


def unigram_logperplexity(
    df: DataFrame,
    model: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 1000,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document unigram cross-entropy (bits/token) and perplexity —
    the LM-perplexity quality filter of web-corpus curation (CCNet-style:
    score each document under a reference language model; unusually
    high-perplexity docs are gibberish/boilerplate, unusually low ones are
    repetitive templates), here with a unigram model so the whole pass
    stays columnar and engine-reproducible.

    ``model``: a ``(tok, logp)`` reference model (e.g. from a clean
    corpus) — broadcast at scoring time, so its size must stay bounded
    (that's what ``vocab_size`` is for). ``None`` trains one on ``df``
    itself: token counts (one word-count shuffle), keep the
    ``vocab_size`` most frequent tokens (deterministic ties:
    count DESC, token ASC — a map-side partial top-k, never a full
    sort), MLE log2-probs against the FULL corpus token total. Tokens
    outside the vocabulary score at the half-count OOV floor
    log2(0.5/total).

    Scoring is explode → broadcast-join → one per-doc aggregate: the
    corpus never shuffles on the token key; the only wide exchange is the
    final groupBy(doc). Per-token logps are 9-dp rounded in both engines
    before averaging (1-ulp libm log2 divergence guard); outputs 4-dp.
    """
    docs = df.where(F.col(text_col).isNotNull())
    # carry_cols ride the explode and the final groupBy (id_col is unique
    # per doc, so extra keys don't change the grouping) — lets callers
    # keep e.g. the language column without a second doc-keyed join
    toks = docs.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.explode(tokenize(F.col(text_col))).alias("tok"),
    )
    if model is None:
        counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
        totals = counts.agg(F.sum("c").alias("t"))
        model = (
            counts.orderBy(F.col("c").desc(), F.col("tok").asc())
            .limit(vocab_size)
            .crossJoin(F.broadcast(totals))
            .select(
                F.col("tok"),
                F.round(F.log2(F.col("c") / F.col("t")), 9).alias("logp"),
                F.round(F.log2(F.lit(0.5) / F.col("t")), 9).alias("oov_logp"),
            )
        )
        # materialize the trained model (≤vocab_size rows): without this
        # the wordcount subtree is inlined THREE times into the scoring
        # plan (model build, its total, the OOV floor) — three full
        # corpus scans. Train-then-score is a natural pipeline breaker; a
        # production run would persist the model table anyway.
        model = pin(model)
    if "oov_logp" in model.columns:
        oov = model.agg(F.min("oov_logp").alias("oov_logp"))
        model = model.select("tok", "logp")
    else:
        # foreign model without an explicit floor: one bit below its
        # rarest in-vocabulary token
        oov = model.agg((F.min("logp") - F.lit(1.0)).alias("oov_logp"))
    scored = (
        toks.join(F.broadcast(model), "tok", "left")
        .crossJoin(F.broadcast(oov))
        .select(
            F.col(id_col),
            *[F.col(c) for c in carry_cols],
            F.coalesce(F.col("logp"), F.col("oov_logp")).alias("lp"),
        )
    )
    avg_lp = F.avg("lp")
    return scored.groupBy(F.col(id_col), *[F.col(c) for c in carry_cols]).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.round(-avg_lp, 4).alias("bits_per_token"),
        F.round(F.pow(F.lit(2.0), -avg_lp), 4).alias("perplexity"),
    )


def contamination_overlap(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: per-document fraction of distinct
    word ``n``-grams that also occur in the benchmark corpus — the
    n-gram-overlap contamination check applied before training on web
    text (a doc whose shingles heavily overlap an eval set is flagged).

    Plan: corpus shingles (distinct per doc) left-semi-style counted
    against the BROADCAST distinct benchmark shingle set (benchmark
    corpora are tiny next to the training corpus — the join never
    shuffles the corpus side); one per-doc aggregate. Documents shorter
    than ``n`` words have no shingles and report 0 over 0 shingles.
    """
    from .dedup import exploded_shingles, shingle_array

    # explode_outer (not exploded_shingles' explode): shingle-less docs
    # must still appear in the output with 0/0
    corpus = df.select(
        F.col(id_col), F.explode_outer(shingle_array(F.col(text_col), n)).alias("shingle")
    )
    bench = (
        exploded_shingles(benchmark, id_col=id_col, text_col=text_col, n=n)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    joined = corpus.join(F.broadcast(bench), "shingle", "left")
    return (
        joined.groupBy(F.col(id_col))
        .agg(
            F.count(F.col("shingle")).cast("long").alias("n_shingles"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("long").alias("n_contaminated"),
        )
        .withColumn(
            "contamination_frac",
            F.when(
                F.col("n_shingles") > 0,
                F.round(F.col("n_contaminated") / F.col("n_shingles"), 4),
            ).otherwise(F.lit(0.0)),
        )
    )


def bigram_logperplexity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 1000,
    lam: float = 0.7,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document cross-entropy under a Jelinek-Mercer-interpolated
    BIGRAM LM — the stronger fluency signal CCNet gets from its n-gram
    KenLM, in a fully columnar, engine-reproducible form:

        p(w_i | w_{i-1}) = λ·p_bi(w_i | w_{i-1}) + (1−λ)·p_uni(w_i)

    Tokens outside the top-``vocab_size`` vocabulary (count DESC, tok
    ASC — the same rule as :func:`unigram_logperplexity`) map to
    ``<unk>`` BEFORE any counting, so BOTH models are bounded: the
    unigram table at vocab_size+1 rows, the bigram table at observed
    distinct mapped pairs ≤ (vocab_size+1)². An unseen bigram simply
    contributes 0 to the interpolation (LEFT JOIN + coalesce — natural
    JM backoff, no special casing), as does the first token of a
    document (no context).

    Scale shape: vocab mapping and model lookups are broadcast joins
    (corpus never shuffles on a token key); the only corpus-keyed
    exchange is ONE lag window per doc for adjacency (the span-frame
    shape) plus the final per-doc aggregate. Training makes two extra
    narrow scans (uni + bi counts) — train-then-score passes, with only
    the MODELS pinned (localCheckpoint), never the exploded corpus.
    Per-token log2 probs are 9-dp rounded in both engines before
    averaging; outputs 4-dp.
    """
    docs = df.where(F.col(text_col).isNotNull())
    toks = docs.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.posexplode(tokenize(F.col(text_col))).alias("pos", "tok"),
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    vocab = pin(
        counts.orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .select("tok", F.lit(True).alias("__in"))
    )
    mapped = toks.join(F.broadcast(vocab), "tok", "left").select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        "pos",
        F.when(F.col("__in"), F.col("tok")).otherwise(F.lit("<unk>")).alias("w"),
    )
    w_prev = F.lag("w").over(
        Window.partitionBy(id_col).orderBy("pos")
    )
    prevd = mapped.withColumn("w_prev", w_prev)
    uni = prevd.groupBy("w").agg(F.count("*").cast("double").alias("__uc"))
    unit = uni.agg(F.sum("__uc").alias("__ut"))
    uni_m = pin(
        uni.crossJoin(F.broadcast(unit))
        .select("w", (F.col("__uc") / F.col("__ut")).alias("__pu"))
    )
    bi = (
        prevd.where(F.col("w_prev").isNotNull())
        .groupBy("w_prev", "w")
        .agg(F.count("*").cast("double").alias("__bc"))
    )
    ctx = bi.groupBy("w_prev").agg(F.sum("__bc").alias("__cc"))
    bi_m = pin(
        bi.join(ctx, "w_prev")
        .select("w_prev", "w", (F.col("__bc") / F.col("__cc")).alias("__pb"))
    )
    lam_c = F.lit(float(lam))
    one_minus = F.lit(1.0) - F.lit(float(lam))  # same IEEE value as the SQL twin's 1.0 - λ
    scored = (
        prevd.join(F.broadcast(uni_m), "w")
        .join(F.broadcast(bi_m), ["w_prev", "w"], "left")
        .select(
            F.col(id_col),
            *[F.col(c) for c in carry_cols],
            F.round(
                F.log2(
                    lam_c * F.coalesce(F.col("__pb"), F.lit(0.0))
                    + one_minus * F.col("__pu")
                ),
                9,
            ).alias("__lp"),
        )
    )
    return scored.groupBy(id_col, *carry_cols).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.round(-F.avg("__lp"), 4).alias("bigram_bits"),
        F.round(F.pow(F.lit(2.0), -F.avg("__lp")), 4).alias("bigram_ppl"),
    )


def ccnet_perplexity_buckets(
    df: DataFrame,
    model: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    cuts: tuple[float, float] = (1.0 / 3, 2.0 / 3),
) -> DataFrame:
    """CCNet's head/middle/tail corpus split (Wenzek et al. 2019): score
    every document's LM perplexity, then partition EACH LANGUAGE into
    three quality tiers at the per-language perplexity tertiles — head is
    the lowest-perplexity (most fluent) third.

    Scale shape: the tier boundaries are a per-language percentile
    AGGREGATE (one row per language) broadcast back onto the scored
    corpus — never a per-language global sort/ntile, which would funnel a
    whole language through one reducer at 100 TB.  Exact ``percentile``
    keeps the small-scale oracle bit-comparable (DuckDB ``quantile_cont``
    computes the same linear interpolation); swap in
    ``approx_percentile`` at real scale where a 1e-4-quantile error is
    irrelevant.  Cut values are 6-dp rounded in both engines before the
    bucket comparison (1-ulp interpolation guard).
    """
    ppl = unigram_logperplexity(
        df, model, id_col=id_col, text_col=text_col, carry_cols=(lang_col,)
    )
    cut = ppl.groupBy(lang_col).agg(
        F.round(F.percentile("bits_per_token", F.lit(cuts[0])), 6).alias("__c1"),
        F.round(F.percentile("bits_per_token", F.lit(cuts[1])), 6).alias("__c2"),
    )
    bucket = (
        F.when(F.col("bits_per_token") <= F.col("__c1"), F.lit("head"))
        .when(F.col("bits_per_token") <= F.col("__c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return ppl.join(F.broadcast(cut), lang_col).select(
        F.col(id_col),
        F.col(lang_col),
        "n_tokens",
        "bits_per_token",
        "perplexity",
        bucket.alias("ppl_bucket"),
    )


def tfidf_top_terms(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """tf-idf keyword extraction per corpus slice: the ``k`` terms most
    characteristic of each ``group_col`` value (source/domain/crawl).

    tf is the term's count within the group; idf = ln(N_docs / df) over
    the whole corpus (df = number of documents containing the term).
    Plan: one token explode feeds both the per-group tf aggregate and the
    corpus df aggregate; df is vocabulary-sized, so it broadcasts back
    onto tf, and the top-k window partitions by group (group × vocab
    rows, already small).  Ranking compares the 9-dp-rounded score
    (ties → term ASC) so 1-ulp libm ``ln`` divergence can't flip ranks
    across engines; the reported score is 4-dp.
    """
    from pyspark.sql import Window

    docs = df.where(F.col(text_col).isNotNull())
    toks = docs.select(
        F.col(id_col),
        F.col(group_col),
        F.explode(tokenize(F.col(text_col))).alias("term"),
    )
    n_docs = docs.agg(F.count("*").cast("double").alias("__n"))
    df_t = (
        toks.groupBy("term")
        .agg(F.count_distinct(F.col(id_col)).alias("__df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term", F.round(F.log(F.col("__n") / F.col("__df")), 9).alias("__idf")
        )
    )
    tf = toks.groupBy(group_col, "term").agg(F.count("*").alias("tf"))
    scored = tf.join(F.broadcast(df_t), "term").select(
        F.col(group_col),
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.round(F.col("tf") * F.col("__idf"), 9).alias("__s9"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("__s9").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(group_col, "term", "tf", F.round(F.col("__s9"), 4).alias("score"), "rank")
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 retrieval: the ``k`` documents most relevant to a bag
    of ``query_terms`` — the standard lexical scorer (Robertson/Sparck
    Jones probabilistic idf, tf saturation ``k1``, length normalization
    ``b``) behind benchmark-decontamination lookups and seed-document
    expansion in corpus curation.

    score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1−b+b·|d|/avgdl)),
    idf(t) = ln(1 + (N − df(t) + 0.5)/(df(t) + 0.5)).

    Scale shape: corpus statistics (N, avgdl, per-term df) fold into ONE
    map-side-combined aggregate producing a SINGLE row — df per term is a
    conditional sum over ``array_contains``, so adding terms widens the
    aggregate, never adds passes. That row broadcasts back; per-document
    tf is a fixed set of ``size(filter(tokens,...))`` expressions over
    one bound token array — scan speed, zero explode, zero token-keyed
    shuffle (contrast: an exploded inverted-index join would shuffle the
    corpus on the hottest keys in the vocabulary). Top-k is
    ``orderBy(...).limit(k)`` — TakeOrderedAndProject's per-partition
    heaps, no global sort exchange. Ranking compares the 9-dp-rounded
    score (ties → ``id_col`` ASC) so 1-ulp libm ``ln`` divergence cannot
    flip ranks across engines; the reported score is 4-dp. Zero-score
    documents (no query term present) are excluded, matching the
    inverted-index contract that a document sharing no term is not a
    result. Raises on an empty term list rather than scoring nothing.
    """
    if not query_terms:
        raise ValueError("bm25_topk: query_terms must be non-empty")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError("bm25_topk: query_terms must be distinct")
    docs = df.where(F.col(text_col).isNotNull())
    toks = tokenize(F.col(text_col))
    stats = docs.agg(
        F.count("*").cast("double").alias("__n"),
        F.avg(F.size(toks)).alias("__avgdl"),
        *[
            F.sum(F.array_contains(toks, t).cast("long"))
            .cast("double")
            .alias(f"__df{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    kL, bL = F.lit(float(k1)), F.lit(float(b))
    dl = F.size(toks).cast("double")

    def term_score(i: int, t: str) -> Column:
        tf = F.size(F.filter(toks, lambda x: x == F.lit(t))).cast("double")
        idf = F.round(
            F.log(
                F.lit(1.0)
                + (F.col("__n") - F.col(f"__df{i}") + 0.5) / (F.col(f"__df{i}") + 0.5)
            ),
            9,
        )
        denom = tf + kL * (F.lit(1.0) - bL + bL * dl / F.col("__avgdl"))
        return idf * tf * (kL + F.lit(1.0)) / denom

    total = term_score(0, query_terms[0])
    for i, t in enumerate(query_terms[1:], start=1):
        total = total + term_score(i, t)
    scored = (
        docs.crossJoin(F.broadcast(stats))
        .select(F.col(id_col), F.round(total, 9).alias("__s9"))
        .where(F.col("__s9") > 0)
        .orderBy(F.col("__s9").desc(), F.col(id_col).asc())
        .limit(k)
    )
    # ≤ k rows after the limit
    w = one_partition_window(F.col("__s9").desc(), F.col(id_col).asc())
    return scored.select(
        F.col(id_col),
        F.round(F.col("__s9"), 4).alias("score"),
        F.row_number().over(w).cast("int").alias("rank"),
    )


def char_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Shannon character entropy (bits/char) — the classic cheap
    gibberish/boilerplate signal: natural text sits around 4 bits/char,
    base64 blobs and repeated padding fall far outside.

    Pure built-ins: the per-distinct-character probabilities come from
    counting occurrences inside an array fold (alphabet × length work per
    row — tiny for real alphabets), so the operator is a zero-shuffle
    scan like the rest of this module.  Per-character terms are 9-dp
    rounded in both engines before summing (libm log2 1-ulp guard);
    output 4-dp.  Empty or NULL text scores 0.
    """
    text = F.col(text_col)
    ent = F.element_at(F.transform(F.array(F.split(text, "")), _entropy_of), 1)
    # + 0.0 normalizes the -0.0 a single-repeated-char doc produces
    # (-Σ of all-zero terms) so both engines hash identically
    return df.select(
        F.col(id_col),
        F.coalesce(F.length(text), F.lit(0)).cast("long").alias("n_chars"),
        (F.round(F.coalesce(ent, F.lit(0.0)), 4) + F.lit(0.0)).alias(
            "entropy_bits_per_char"
        ),
    )


def mixture_weights(
    df: DataFrame,
    target: dict[str, float],
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-mixing weights: the per-slice resampling factor that moves
    the corpus's token distribution to a ``target`` share per
    ``group_col`` value (the data-mixture stage of training-set
    assembly — DoReMi/Pile-style domain reweighting, here with given
    targets rather than learned ones).

    weight = target_share / actual_share (unlisted groups get target 0 ⇒
    weight 0).  One token-count aggregate (#groups rows); everything
    after is arithmetic on that tiny frame.  4-dp outputs, 9-dp shares
    under the ratio for engine parity.
    """
    toks = df.where(F.col(text_col).isNotNull()).select(
        F.col(group_col), F.size(tokenize(F.col(text_col))).alias("__n")
    )
    per = toks.groupBy(group_col).agg(F.sum("__n").alias("n_tokens"))
    total = per.agg(F.sum("n_tokens").alias("__t"))
    tgt = F.create_map(
        *[F.lit(x) for kv in target.items() for x in kv]
    )
    share = F.round(F.col("n_tokens") / F.col("__t"), 9)
    t_share = F.coalesce(F.element_at(tgt, F.col(group_col)), F.lit(0.0))
    # nullif guard: a listed group whose 9-dp-rounded share is 0.0 (below
    # 5e-10 of corpus tokens — plausible at 100 TB) must yield NULL
    # weight, not abort the job under ANSI DIVIDE_BY_ZERO (the same
    # guard similarity.cosine applies to zero norms)
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            group_col,
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(share, 4).alias("share"),
            F.round(t_share, 4).alias("target_share"),
            F.round(t_share / F.nullif(share, F.lit(0.0)), 4).alias("weight"),
        )
    )


def apply_mixture(
    df: DataFrame,
    target: dict[str, float],
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "mix",
) -> DataFrame:
    """Resample the corpus to a target mixture: each document gets
    ``n_copies = floor(weight) + Bernoulli(frac(weight))`` repetitions of
    its group's :func:`mixture_weights` factor — the step that actually
    MATERIALIZES a reweighted training set (epochs-per-domain in
    DoReMi/Pile-style mixing). The Bernoulli draw is a salted-md5 bucket,
    so the resample is deterministic and engine-reproducible; groups
    outside the target (weight 0 or NULL) drop to 0 copies.

    Plan: one tiny weights aggregate broadcast back; the corpus never
    shuffles. Expand to physical rows with
    ``df.select(..., F.explode(F.sequence(F.lit(1), F.col("n_copies"))))``
    downstream when copies must exist as rows.
    """
    w = mixture_weights(df, target, group_col=group_col, text_col=text_col)
    docs = df.where(F.col(text_col).isNotNull())
    joined = docs.join(
        F.broadcast(w.select(group_col, "weight")), group_col, "left"
    )
    weight = F.coalesce(F.col("weight"), F.lit(0.0))
    base = F.floor(weight).cast("long")
    # 4-dp weight → exact 10^4 buckets; salted md5 keeps draws
    # independent of the sampling/dedup salts
    frac_bp = F.round((weight - base) * 10_000).cast("long")
    draw = F.pmod(
        md5_long(F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))),
        F.lit(10_000),
    )
    n_copies = base + F.when(draw < frac_bp, F.lit(1)).otherwise(F.lit(0))
    return joined.select(
        F.col(id_col),
        F.col(group_col),
        n_copies.cast("long").alias("n_copies"),
    )


# ---------------------------------------------------------------------------
# Merge-table BPE, fully columnar
# ---------------------------------------------------------------------------

# Token-boundary separator for the columnar BPE representation: a token
# sequence [a, b] is encoded as "\x1fa\x1f\x1fb\x1f" (every token wrapped
# in \x1f on both sides). The double separator between tokens is what
# makes a LITERAL left-to-right replace() a correct merge pass: the
# pattern "\x1fA\x1f\x1fB\x1f" can only match a complete token A followed
# by a complete token B, and consecutive merge sites don't share any
# characters (a single-separator encoding would — "a b a b" would merge
# only the first pair because replace() resumes AFTER the replacement).
BPE_SEP = "\x1f"

# Tiny deterministic merge table (valid monotone BPE: each merge's
# constituents are base characters or outputs of EARLIER merges). Rank
# order = table order.
DEFAULT_BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "r"), ("o", "n"), ("e", "n"), ("a", "t"),
    ("e", "s"), ("o", "u"), ("s", "t"), ("in", "g"), ("a", "r"),
    ("t", "o"),
)


# ceiling for the columnar replace-chain form: past this, whole-stage
# codegen bails on the expression tree (64 KB JVM method limit), Catalyst
# tree construction itself becomes the bottleneck, and per-word work is
# O(n_merges·|word|). Production vocabularies (~50k merges) go through
# bpe_encode_arrow instead (a declared Arrow surface, same boundary
# class as the protobuf wire codec).
_COLUMNAR_MAX_MERGES = 64


def _merges_contain_sep(merges) -> bool:
    return any(BPE_SEP in a or BPE_SEP in b for a, b in merges)


def bpe_word_expr(
    word: Column, merges: tuple[tuple[str, str], ...] = DEFAULT_BPE_MERGES
) -> Column:
    """Encode one whitespace word with merge-table BPE, as a pure column
    expression: char-split into the wrapped representation, then one
    literal ``replace`` pass per merge in rank order. Refuses merge
    tables past ``_COLUMNAR_MAX_MERGES`` — use :func:`bpe_encode_arrow`
    (or :func:`bpe_encode`'s auto dispatch) for production vocabularies.

    One full left-to-right pass per rule in rank order is EQUIVALENT to
    the canonical encoder loop (repeatedly merge all occurrences of the
    lowest-rank pair present): rule r's constituents can only be produced
    by rules < r, so once passes 1..r-1 are complete, (a) every
    occurrence of pair r currently present gets merged in pass r, and
    (b) merging pair r only creates adjacencies involving the NEW token,
    whose pairs all rank > r — it can never resurrect an earlier rule or
    rule r itself. Within a pass, replace() is left-to-right greedy on
    non-overlapping sites, same as the canonical per-word scan.
    (Locked against a reference Python encoder in tests/test_textstats.py.)
    """
    if len(merges) > _COLUMNAR_MAX_MERGES:
        raise ValueError(
            f"columnar BPE caps at {_COLUMNAR_MAX_MERGES} merges "
            f"(got {len(merges)}): a pass-per-merge replace chain at "
            "production vocab size blows past the JVM codegen method "
            "limit — use bpe_encode_arrow / bpe_encode(engine='auto')"
        )
    if _merges_contain_sep(merges):
        # a symbol containing the separator would collide with the
        # wrapped representation and misfire the literal replace
        # patterns — silently wrong counts, not an error. Reachable now
        # that bpe_train learns tables from arbitrary corpus bytes.
        raise ValueError(
            "columnar BPE cannot encode a merge table whose symbols "
            f"contain the separator byte {BPE_SEP!r} — use "
            "bpe_encode_arrow / bpe_encode(engine='auto')"
        )
    s = F.regexp_replace(word, "(.)", BPE_SEP + "$1" + BPE_SEP)
    for a, b in merges:
        s = F.replace(
            s,
            F.lit(f"{BPE_SEP}{a}{BPE_SEP}{BPE_SEP}{b}{BPE_SEP}"),
            F.lit(f"{BPE_SEP}{a}{b}{BPE_SEP}"),
        )
    return s


def bpe_token_count_expr(enc_arr: Column) -> Column:
    """Total BPE token count over one BOUND array of encoded words."""
    return F.aggregate(
        enc_arr,
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.when(F.length(s) > 0, F.size(F.split(s, BPE_SEP + BPE_SEP)))
        .otherwise(F.lit(0))
        .cast("long"),
    )


def bpe_encode(
    df: DataFrame,
    merges: tuple[tuple[str, str], ...] = DEFAULT_BPE_MERGES,
    id_col: str = "doc_id",
    text_col: str = "text",
    engine: str = "auto",
) -> DataFrame:
    """Merge-table BPE tokenization. Two physical paths, one semantics:

    - ``columnar`` (merge tables ≤ ``_COLUMNAR_MAX_MERGES``): no Python,
      no shuffle — per-document whitespace words are char-split and
      merged by chained literal ``replace`` passes (:func:`bpe_word_expr`;
      proven equivalent to the canonical encoder loop). The merge table
      is a compile-time constant folded into the expression tree —
      nothing broadcast, scan speed. This is the oracle'd form.
    - ``arrow`` (production vocabularies, ~50k merges): the canonical
      lowest-rank-pair encoder over Arrow batches
      (:func:`bpe_encode_arrow`) — a replace chain that deep would blow
      the JVM codegen method limit and cost O(n_merges·|word|) per word.

    ``engine='auto'`` picks columnar when the table fits, arrow past the
    ceiling; parity between the paths is pinned by
    tests/test_textstats.py (same table, identical output) and a
    property test over random VALID merge tables.

    Output per doc: ``n_words`` (non-empty words), ``bpe_tokens`` (total
    token count), and ``enc_head`` (the first word's token sequence,
    '|'-joined — the value-parity probe for the merge semantics).
    """
    if engine not in ("auto", "columnar", "arrow"):
        raise ValueError(f"unknown bpe engine {engine!r}")
    if engine == "arrow" or (
        engine == "auto"
        and (len(merges) > _COLUMNAR_MAX_MERGES or _merges_contain_sep(merges))
    ):
        # separator-bearing symbols (reachable via bpe_train on corpora
        # containing \x1f) would corrupt the columnar replace chain —
        # auto routes them to the canonical Arrow encoder, which treats
        # symbols opaquely. (Columnar also assumes the TEXT is free of
        # \x1f — true post clean_text, which strips C0 controls.)
        return bpe_encode_arrow(df, merges, id_col=id_col, text_col=text_col)
    docs = df.where(F.col(text_col).isNotNull())
    enc_arr = F.transform(
        tokenize(F.col(text_col)), lambda w: bpe_word_expr(w, merges)
    )
    pretty_head = lambda e: F.replace(  # noqa: E731
        F.replace(
            F.try_element_at(e, F.lit(1)), F.lit(BPE_SEP + BPE_SEP), F.lit("|")
        ),
        F.lit(BPE_SEP),
        F.lit(""),
    )
    # bind the encoded array once (no CSE across lambda scopes)
    stats = F.element_at(
        F.transform(
            F.array(enc_arr),
            lambda e: F.struct(
                F.size(F.filter(e, lambda s: F.length(s) > 0))
                .cast("long")
                .alias("n_words"),
                bpe_token_count_expr(e).alias("bpe_tokens"),
                pretty_head(e).alias("enc_head"),
            ),
        ),
        1,
    )
    return docs.withColumn("__b", stats).select(
        F.col(id_col),
        F.col("__b.n_words").alias("n_words"),
        F.col("__b.bpe_tokens").alias("bpe_tokens"),
        F.col("__b.enc_head").alias("enc_head"),
    )


def bpe_canonical_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Canonical per-word BPE encode: repeatedly merge ALL occurrences of
    the lowest-rank pair present (left-to-right, non-overlapping) until
    no table pair remains. Cost is O(pairs-present) per round, NOT
    O(n_merges) — the table participates only through the rank lookup,
    so a 50k-merge vocabulary costs the same per word as a 16-merge one.
    Pure Python; executed worker-side inside :func:`bpe_encode_arrow`."""
    toks = list(word)
    while len(toks) > 1:
        best: tuple[str, str] | None = None
        best_rank = len(ranks)
        for pair in zip(toks, toks[1:]):
            r = ranks.get(pair, best_rank)
            if r < best_rank:
                best, best_rank = pair, r
        if best is None:
            break
        a, b = best
        out: list[str] = []
        i = 0
        while i < len(toks):
            if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        toks = out
    return toks


def bpe_encode_arrow(
    df: DataFrame,
    merges: tuple[tuple[str, str], ...] = DEFAULT_BPE_MERGES,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab: dict[str, int] | None = None,
) -> DataFrame:
    """Production-vocabulary BPE: the canonical encoder over Arrow
    batches (``mapInPandas``). A DECLARED Arrow surface — same boundary
    class as the protobuf wire codec: the work is inherently per-word
    iterative with a ~50k-entry rank table, which the columnar replace
    chain cannot express within JVM codegen limits.

    Scale shape: narrow map-only (zero shuffle, partition-preserving);
    the rank dict ships once per task in the closure (a ~50k-pair dict
    is ~5 MB — executor-resident, amortized across every batch); a
    per-task word→encoding cache exploits Zipf repetition so hot words
    encode once per task, not once per occurrence.

    Output schema and semantics are IDENTICAL to the columnar
    :func:`bpe_encode` (parity-pinned in tests): whitespace tokenize is
    trim-spaces + split-on-space-runs, ``enc_head`` encodes the FIRST
    raw word ('' text → '' head, matching the columnar form), counts
    cover non-empty words only. NULL text rows are dropped like the
    columnar path.

    With ``vocab`` (a symbol→id table, :func:`bpe_vocab`), the output
    additionally carries ``token_ids: array<int>`` — the per-doc id
    sequence (words concatenated in order; add word-boundary symbols to
    the merge table itself if the downstream wants them), which is what
    a training-export consumer actually feeds a model. Symbols outside
    the vocab emit the reserved UNK id ``len(vocab)``. The id map ships
    in the task closure alongside the rank table and the per-task word
    cache covers it too (hot words map to ids once per task).
    """
    import re as _re

    from pyspark.sql import types as T

    ranks = {(a, b): i for i, (a, b) in enumerate(merges)}
    unk = len(vocab) if vocab is not None else None
    id_field = df.schema[id_col]
    fields = [
        T.StructField(id_col, id_field.dataType, id_field.nullable),
        T.StructField("n_words", T.LongType(), False),
        T.StructField("bpe_tokens", T.LongType(), False),
        T.StructField("enc_head", T.StringType(), True),
    ]
    if vocab is not None:
        fields.append(
            T.StructField("token_ids", T.ArrayType(T.IntegerType(), False), False)
        )
    out_schema = T.StructType(fields)
    docs = df.where(F.col(text_col).isNotNull()).select(id_col, text_col)

    def encode_batches(batches):
        import pandas as pd

        cache: dict[str, list[str]] = {}

        def enc(w: str) -> list[str]:
            got = cache.get(w)
            if got is None:
                got = bpe_canonical_word(w, ranks)
                cache[w] = got
            return got

        id_cache: dict[str, list[int]] = {}

        def ids_of(w: str) -> list[int]:
            got = id_cache.get(w)
            if got is None:
                got = [vocab.get(t, unk) for t in enc(w)]
                id_cache[w] = got
            return got

        for pdf in batches:
            ids, n_words, n_toks, heads = [], [], [], []
            tok_ids: list[list[int]] = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                raw = _re.split(" +", t.strip(" "))
                encs = [enc(w) for w in raw if w]
                ids.append(i)
                n_words.append(len(encs))
                n_toks.append(sum(len(e) for e in encs))
                heads.append("|".join(enc(raw[0])))
                if vocab is not None:
                    doc_ids: list[int] = []
                    for w in raw:
                        if w:
                            doc_ids.extend(ids_of(w))
                    tok_ids.append(doc_ids)
            out = {
                id_col: ids,
                "n_words": n_words,
                "bpe_tokens": n_toks,
                "enc_head": heads,
            }
            if vocab is not None:
                out["token_ids"] = tok_ids
            yield pd.DataFrame(out)

    return docs.mapInPandas(encode_batches, out_schema)


def bpe_learn_from_counts(
    word_counts,
    n_merges: int,
    min_pair_count: int = 2,
) -> tuple[tuple[str, str], ...]:
    """Learn a merge table from a ``(word, count)`` frequency table —
    the canonical BPE training loop (Sennrich et al. 2016, ACL;
    subword-nmt's ``learn_bpe``): repeatedly take the highest-count
    adjacent symbol pair and merge it everywhere, ``n_merges`` times or
    until the best pair's count drops below ``min_pair_count``.

    Incremental, not recount-per-merge: a pair→words index confines each
    round's bookkeeping to the words that actually CONTAIN the merged
    pair (per-word pair multisets are diffed before/after the merge),
    and the per-round argmax is a lazy max-heap with stale-entry
    skipping (every count change pushes a fresh entry; pops that
    disagree with the live count are discarded) — so a round costs
    O(affected-words · word-length · log heap), never a scan of all
    distinct pairs. A naive full-recount twin in
    tests/test_bpe_train.py pins equivalence by property test.

    Deterministic by construction: ties on count break to the
    lexicographically smallest pair, and the input order of
    ``word_counts`` never matters (counts for a repeated word
    accumulate). The table that comes out is valid MONOTONE BPE —
    every merge's constituents are base characters or outputs of earlier
    merges — i.e. exactly what :func:`bpe_encode` consumes.

    Pure Python over a bounded table; driver-side by design (see
    :func:`bpe_train` for why training state is metadata-sized at any
    corpus scale).
    """
    if n_merges < 0:
        raise ValueError(f"n_merges must be >= 0 (got {n_merges})")
    if min_pair_count < 1:
        raise ValueError(f"min_pair_count must be >= 1 (got {min_pair_count})")
    from collections import Counter

    # accumulate duplicate words so caller input order can't matter
    acc: dict[str, int] = {}
    for w, c in word_counts:
        if w and c > 0:
            acc[w] = acc.get(w, 0) + int(c)
    words: list[tuple[list[str], int]] = [(list(w), c) for w, c in acc.items()]

    pair_counts: Counter = Counter()
    pair_words: dict[tuple[str, str], set[int]] = {}
    for idx, (syms, c) in enumerate(words):
        for p in zip(syms, syms[1:]):
            pair_counts[p] += c
            pair_words.setdefault(p, set()).add(idx)

    def merge_word(syms: list[str], a: str, b: str) -> list[str]:
        # left-to-right greedy, non-overlapping — the same scan the
        # encoders use, so trained tables replay identically at encode
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    import heapq

    # lazy max-heap over (-count, pair): ordering matches the
    # deterministic (-count, lexicographic pair) argmax exactly. Entries
    # go stale when a count changes; every change pushes the fresh
    # state, and selection discards pops that disagree with the live
    # pair_counts — the subword-nmt big-pairs posture without its
    # rebuild threshold.
    heap: list[tuple[int, tuple[str, str]]] = [
        (-c, p) for p, c in pair_counts.items()
    ]
    heapq.heapify(heap)

    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        best = None
        while heap:
            negc, p = heapq.heappop(heap)
            if pair_counts.get(p) == -negc:
                best = p
                break
        if best is None or pair_counts[best] < min_pair_count:
            break
        merges.append(best)
        a, b = best
        for idx in sorted(pair_words.get(best, ())):
            syms, c = words[idx]
            before = Counter(zip(syms, syms[1:]))
            new_syms = merge_word(syms, a, b)
            after = Counter(zip(new_syms, new_syms[1:]))
            words[idx] = (new_syms, c)
            for p, k in (before - after).items():
                pair_counts[p] -= k * c
                if pair_counts[p] <= 0:
                    del pair_counts[p]
                else:
                    heapq.heappush(heap, (-pair_counts[p], p))
                if after[p] == 0:
                    s = pair_words.get(p)
                    if s is not None:
                        s.discard(idx)
                        if not s:
                            del pair_words[p]
            for p, k in (after - before).items():
                pair_counts[p] += k * c
                heapq.heappush(heap, (-pair_counts[p], p))
                pair_words.setdefault(p, set()).add(idx)
        # the merged pair is gone from every affected word by the greedy
        # scan; drop any residue defensively (e.g. all-zero counts)
        pair_counts.pop(best, None)
        pair_words.pop(best, None)
    return tuple(merges)


def bpe_word_counts(
    df: DataFrame,
    text_col: str = "text",
    max_words: int = 65536,
    min_count: int = 2,
    id_col: str = "doc_id",
    doc_mod: int | None = None,
) -> list[tuple[str, int]]:
    """The distributed half of BPE training: ONE word-count aggregate
    over the corpus (classic map-side-combine wordcount — the shuffle
    carries distinct words per partition, not occurrences; the same
    once-at-train-time pass :func:`unigram_logperplexity` already pays),
    then the top ``max_words`` by (count desc, word) via
    ``orderBy().limit()`` — Spark plans that as TakeOrderedAndProject:
    per-partition heaps, partitions×K rows merge at the driver, no
    global sort exchange.

    The returned table is a SUFFICIENT STATISTIC for whitespace-
    pretokenized BPE: merges depend on the corpus only through word
    frequencies. Truncation to ``max_words`` (plus the ``min_count``
    floor) is the standard practice bound — tail words contribute
    negligibly to pair counts under Zipf, and it caps driver state at
    K rows regardless of corpus size. ``doc_mod`` adds the same
    hash-mod document sampling the IVF trainer uses
    (``xxhash64(doc_id) % doc_mod == 0``) for when even one full
    wordcount pass is unwanted.
    """
    rows = bpe_word_counts_df(
        df,
        text_col=text_col,
        max_words=max_words,
        min_count=min_count,
        id_col=id_col,
        doc_mod=doc_mod,
    ).collect()
    return [(r["word"], r["cnt"]) for r in rows]


def bpe_word_counts_df(
    df: DataFrame,
    text_col: str = "text",
    max_words: int = 65536,
    min_count: int = 2,
    id_col: str = "doc_id",
    doc_mod: int | None = None,
) -> DataFrame:
    """DataFrame form of :func:`bpe_word_counts` (``word, cnt``, at most
    ``max_words`` rows) — the oracle-checkable surface of the trainer's
    distributed half; the trainer collects it, other consumers (the
    driver parity query) keep it as a frame."""
    if max_words < 1:
        raise ValueError(f"max_words must be >= 1 (got {max_words})")
    docs = df.where(F.col(text_col).isNotNull())
    if doc_mod is not None:
        if doc_mod < 1:
            raise ValueError(f"doc_mod must be >= 1 (got {doc_mod})")
        docs = docs.where(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(doc_mod)) == 0
        )
    # same deterministic top-K contract (count DESC, word ASC) as
    # unigram_logperplexity's oracle-locked train branch — kept as two
    # sites because the semantics differ beyond the tie-break (this one
    # floors on min_count; that one has no floor and feeds MLE
    # probabilities). orderBy().limit() plans as TakeOrderedAndProject:
    # per-partition heaps, no global sort exchange.
    return (
        docs.select(F.explode(tokenize(F.col(text_col))).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
        .orderBy(F.col("cnt").desc(), F.col("word"))
        .limit(max_words)
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 256,
    text_col: str = "text",
    max_words: int = 65536,
    min_count: int = 2,
    min_pair_count: int = 2,
    id_col: str = "doc_id",
    doc_mod: int | None = None,
) -> tuple[tuple[str, str], ...]:
    """Learn a BPE merge table FROM the corpus — the producing end of
    the :func:`bpe_encode` consuming end, closing the tokenizer loop
    (learn merges → encode at scale).

    Scale shape — the faiss-IVF training posture: the cluster does
    exactly ONE bounded-output aggregate (wordcount → top-K,
    :func:`bpe_word_counts`); the iterative merge learning runs
    driver-side over that K-row table (:func:`bpe_learn_from_counts`),
    because training state is metadata-sized at ANY corpus scale and a
    cluster-side iteration per merge would be n_merges scheduler-bound
    jobs for no added statistics. The learned table feeds either encode
    path (columnar ≤64 merges, Arrow above) unchanged.

    Raises on an empty corpus (nothing to learn from) rather than
    returning an empty table a caller could silently encode with.
    """
    counts = bpe_word_counts(
        df,
        text_col=text_col,
        max_words=max_words,
        min_count=min_count,
        id_col=id_col,
        doc_mod=doc_mod,
    )
    if not counts:
        raise ValueError(
            "bpe_train: word-count table is empty (empty corpus, or "
            "min_count/doc_mod filtered everything) — no merges to learn"
        )
    return bpe_learn_from_counts(
        counts, n_merges, min_pair_count=min_pair_count
    )


def bpe_alphabet_from_counts(word_counts) -> tuple[str, ...]:
    """The base-symbol alphabet implied by a word-frequency table:
    sorted distinct characters of the words. Derived from the SAME
    bounded table training uses, so it costs nothing extra — corpus
    characters outside the top-K words' charset map to the UNK id at
    encode time (the standard open-vocabulary trade: accept UNK or
    widen max_words)."""
    chars: set[str] = set()
    for w, c in word_counts:
        if w and c > 0:
            chars.update(w)
    return tuple(sorted(chars))


def bpe_vocab(
    merges,
    base_alphabet=None,
) -> dict[str, int]:
    """Deterministic id table for a merge table: base symbols first
    (sorted), then each merge's OUTPUT in rank order — the GPT-2 layout
    (bytes 0..255, then merges) generalized to an explicit character
    alphabet. ``len(vocab)`` is reserved as the UNK id for symbols
    outside the table (:func:`bpe_encode_arrow` emits it for
    out-of-alphabet characters).

    ``base_alphabet`` defaults to the characters appearing in the
    merges' constituents — complete for any corpus the table was
    trained on only if every trained word's charset reached a merge,
    so callers with the word-count table at hand should pass
    :func:`bpe_alphabet_from_counts` explicitly.
    """
    if base_alphabet is None:
        chars: set[str] = set()
        for a, b in merges:
            chars.update(a)
            chars.update(b)
        base_alphabet = sorted(chars)
    vocab: dict[str, int] = {}
    for ch in sorted(set(base_alphabet)):
        vocab[ch] = len(vocab)
    for a, b in merges:
        tok = a + b
        if tok not in vocab:
            vocab[tok] = len(vocab)
    return vocab


def bpe_merges_to_text(merges) -> str:
    """Serialize a merge table in the standard ``merges.txt`` interchange
    form (GPT-2 / Hugging Face tokenizers): a ``#version`` comment line,
    then one space-separated pair per line, rank = line order. This is
    the artifact a trained table ships as — the encode side of any
    BPE-compatible tokenizer stack can consume it directly.

    Refuses pairs the format cannot represent: embedded space/newline
    splits the pair on re-read, an embedded carriage return is stripped
    as a CRLF line ending, and a first symbol starting with ``#`` parses
    back as a comment line — each would silently drop or alter merges
    and shift every later rank, so they fail loudly here instead.
    """
    lines = ["#version: 0.2"]
    for a, b in merges:
        for part in (a, b):
            if (" " in part) or ("\n" in part) or ("\r" in part) or not part:
                raise ValueError(
                    f"merge pair {(a, b)!r} is not representable in "
                    "merges.txt (empty symbol or embedded space/CR/newline)"
                )
        if a.startswith("#"):
            raise ValueError(
                f"merge pair {(a, b)!r} is not representable in "
                "merges.txt (a line starting with '#' re-reads as a "
                "comment and the pair would be silently dropped)"
            )
        lines.append(f"{a} {b}")
    return "\n".join(lines) + "\n"


def bpe_merges_from_text(text: str) -> tuple[tuple[str, str], ...]:
    """Parse a ``merges.txt`` artifact back into a merge table.
    Tolerates ``#``-comment lines and blank lines anywhere (HF writers
    vary); raises on a data line that is not exactly two symbols —
    truncated artifacts must fail loudly, not train-adjacent silently."""
    merges: list[tuple[str, str]] = []
    for ln, raw in enumerate(text.split("\n"), 1):
        line = raw.strip("\r")
        if not line or line.startswith("#"):
            continue
        parts = line.split(" ")
        if len(parts) != 2 or not parts[0] or not parts[1]:
            raise ValueError(
                f"merges.txt line {ln} is not a pair: {line!r}"
            )
        merges.append((parts[0], parts[1]))
    return tuple(merges)


def pack_sequences(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    partitions: int = 32,
) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in ``id_col``
    order and cut the token stream into fixed ``budget``-token windows —
    each document reports the global ``start_offset`` of its first token
    and the ``pack_id`` (window index) it starts in.

    The global running sum is the interesting part at scale: a bare
    ``Window.orderBy(id)`` funnels the whole corpus through ONE reducer.
    This uses the two-phase formulation instead — range-partition by id
    (RangePartitioner gives ascending ranges to ascending partition
    ids), per-partition cumulative sums, then broadcast the tiny
    per-partition totals back as offsets.  The output is independent of
    where the sampled range boundaries land.
    """
    from pyspark.sql import Window

    toks = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.size(tokenize(F.col(text_col))).cast("long").alias("n_tokens")
    )
    t = toks.repartitionByRange(partitions, F.col(id_col)).withColumn(
        "__pid", F.spark_partition_id()
    )
    # PIN the range-partitioned frame: `t` feeds two subtrees (the
    # per-partition totals → broadcast offsets, and the final join), and
    # correctness of __pid requires both to see ONE physical partitioning.
    # Without the pin, if exchange reuse doesn't apply (exchange.reuse
    # off, plan divergence, cache eviction) RangePartitioner RESAMPLES
    # boundaries with a different seed and the two executions can assign
    # different __pids — silently wrong offsets. localCheckpoint
    # materializes the partitioning once; both consumers read it.
    t = pin(t)
    w = Window.partitionBy("__pid").orderBy(F.col(id_col).asc())
    t = t.withColumn("__local_cum", F.sum("n_tokens").over(w))
    totals = t.groupBy("__pid").agg(F.max("__local_cum").alias("__tot"))
    # offsets: totals of all EARLIER partitions — a window over ≤
    # `partitions` rows, never the data
    ow = one_partition_window("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.repartition(1).withColumn(
        "__off", F.coalesce(F.sum("__tot").over(ow), F.lit(0).cast("long"))
    ).select("__pid", "__off")
    start = F.col("__off") + F.col("__local_cum") - F.col("n_tokens")
    return (
        t.join(F.broadcast(offs), "__pid")
        .select(
            id_col,
            "n_tokens",
            start.alias("start_offset"),
            F.floor(start / F.lit(budget)).cast("long").alias("pack_id"),
        )
    )


def shuffle_shards(
    df: DataFrame,
    n_shards: int = 16,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic global shuffle + sharding for training-data export:
    every training run wants the corpus in a reproducible random order,
    split into fixed shard files. The permutation key is the
    engine-independent 60-bit md5 integer of ``seed#id``
    (:func:`~..dedup.md5_long`), the shard is ``key mod n_shards``, and
    the in-shard position ranks by (key, id).

    Scale: NO total sort — shard assignment is a map-side hash, and each
    shard orders independently (``row_number`` over the shard partition),
    so the only data movement is one hash shuffle on ``shard_id``. Size
    ``n_shards`` so a shard fits an executor (at 100 TB that's thousands
    of shards, each a few GB — exactly the export-file granularity).
    Re-running at ANY parallelism yields identical ``(shard, pos)``
    assignments, which is what makes a resumable export manifest and a
    different seed a fresh, independent permutation.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    key = md5_long(F.col(id_col).cast("string"), seed=seed)
    w = Window.partitionBy("shard_id").orderBy(F.col("__key"), F.col(id_col))
    return (
        df.select(
            F.col(id_col),
            key.alias("__key"),
            F.pmod(key, F.lit(n_shards)).cast("int").alias("shard_id"),
        )
        .withColumn("pos_in_shard", (F.row_number().over(w) - 1).cast("long"))
        .select(id_col, "shard_id", "pos_in_shard")
    )


def shard_manifest(
    sharded: DataFrame,
    id_col: str = "doc_id",
    shard_col: str = "shard_id",
    pos_col: str = "pos_in_shard",
) -> DataFrame:
    """Per-shard export manifest over :func:`shuffle_shards` output:
    ``(shard_id, n_docs, manifest_md5)`` where the digest hashes the
    shard's id sequence IN POSITION ORDER — two exports match iff every
    shard holds the same documents in the same order, which is the
    resumability check a 100 TB export needs (re-verify a restarted
    export against the manifest instead of re-reading the data).

    One groupBy on the shard key (n_shards rows out — metadata-sized at
    any corpus scale); the in-group sort is per-shard, never global.
    """
    return sharded.groupBy(F.col(shard_col).alias("shard_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col(pos_col).alias("p"),
                                F.col(id_col).cast("string").alias("i"),
                            )
                        )
                    ),
                    lambda s: s["i"],
                ),
            )
        ).alias("manifest_md5"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window long-document chunking with overlap — the standard
    context-window splitter for training/RAG corpora: chunks start every
    ``stride = chunk_tokens − overlap`` tokens, each carrying up to
    ``chunk_tokens`` tokens (the final chunk clips to the document end),
    so consecutive chunks share ``overlap`` tokens of context. The
    complement of :func:`pack_sequences`: packing concatenates SHORT
    documents up to a budget; chunking splits LONG documents down to one
    (reference analog: the two directions of the batch processor,
    merge-and-split, batch_processor.go).

    Output: one row per chunk —
    ``(id, chunk_idx, start_tok, n_chunk_tokens, chunk_text)``, ordered
    within a document by ``chunk_idx``; a document shorter than one
    stride yields exactly one chunk.

    Scale: narrow map-side expansion (~n_tokens/stride rows per doc),
    token array bound once per row, zero shuffle — chunk rows inherit
    the scan's partitioning and are ready for a downstream
    repartition/write without any intermediate exchange.
    """
    if overlap >= chunk_tokens:
        raise ValueError(
            f"overlap ({overlap}) must be smaller than chunk_tokens "
            f"({chunk_tokens})"
        )
    stride = chunk_tokens - overlap
    words_expr = tokenize(F.col(text_col))

    def per_doc(w: Column) -> Column:
        n = F.size(w)
        # chunks start at 0, stride, 2·stride, … while start < n
        last_idx = F.floor((n - F.lit(1)) / F.lit(stride)).cast("int")
        ntk = lambda i: F.least(F.lit(chunk_tokens), n - i * F.lit(stride))
        return F.transform(
            F.sequence(F.lit(0), last_idx),
            lambda i: F.struct(
                i.cast("int").alias("chunk_idx"),
                (i * F.lit(stride)).cast("long").alias("start_tok"),
                ntk(i).cast("long").alias("n_chunk_tokens"),
                F.array_join(
                    F.slice(w, i * F.lit(stride) + F.lit(1), ntk(i)), " "
                ).alias("chunk_text"),
            ),
        )

    chunks = F.element_at(F.transform(F.array(words_expr), per_doc), 1)
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.explode(chunks).alias("c"))
        .select(
            id_col,
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.start_tok").alias("start_tok"),
            F.col("c.n_chunk_tokens").alias("n_chunk_tokens"),
            F.col("c.chunk_text").alias("chunk_text"),
        )
    )
