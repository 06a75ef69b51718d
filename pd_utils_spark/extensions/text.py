"""Text-analysis operators for large-scale training-data pipelines.

These go beyond the reference surface (nickderobertis/pd-utils has no
text operators) and target the ``documents`` table shape
(doc_id, text, lang, source, n_chars). Everything here is pure
column expressions — JVM-side, whole-stage-codegen friendly, no Python
UDFs — so the operators scale linearly with partitions and never
shuffle (per-row transforms only).

Determinism contract: every derived value is a pure function of the
input text so results hash-match an ANSI-SQL oracle. Hashing uses md5
(identical hex output in every engine) rather than engine-specific
hash functions.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Marker-word sets for the n-gram language-ID heuristic. Deliberately
# tiny: the heuristic scores languages by marker-token hits and picks
# the argmax (ties broken alphabetically, no hits -> 'und'). On real
# text this is the classic stopword-profile trick; it is exactly
# reproducible in SQL.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en": ("the", "a", "and", "is", "not", "of", "to", "in"),
    "es": ("el", "la", "los", "las", "es", "y", "un", "una"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans"),
}

PUNCT_CLASS = r"[.,;:!?]"


def _tokens(textcol: Column) -> Column:
    return F.split(F.trim(textcol), r"\s+")


def _token_count(textcol: Column) -> Column:
    return F.when(F.length(F.trim(textcol)) == 0, F.lit(0)).otherwise(
        F.size(_tokens(textcol))
    )


def normalize_text(
    df: DataFrame,
    textcol: str = "text",
    out: str | None = None,
    lowercase: bool = True,
    collapse_whitespace: bool = True,
    strip_control: bool = True,
    strip_punct: bool = False,
) -> DataFrame:
    """Text normalization as a public operator (the same construction
    every dedup/fingerprint operator applies internally): optional
    lowercase, control-character removal, punctuation removal, and
    whitespace-run collapse + trim — in that order, as pure column
    expressions (zero shuffle, engine-portable regex). Writes ``out``
    (default: in place).

    Normalize ONCE up front and feed the normalized column to the
    whole pipeline when several gram/fingerprint stages run over the
    same corpus — repeating the regex work per stage is pure waste at
    100 TB.
    """
    c = F.col(textcol)
    if lowercase:
        c = F.lower(c)
    if strip_control:
        c = F.regexp_replace(c, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", "")
    if strip_punct:
        c = F.regexp_replace(c, PUNCT_CLASS, "")
    if collapse_whitespace:
        c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return df.withColumn(out or textcol, c)


def token_count(df: DataFrame, textcol: str = "text", out: str = "n_tokens") -> DataFrame:
    """Whitespace token count per document (0 for empty/blank text).

    A BPE-ish *subword* estimate is exposed separately as
    ``token_count_bpe`` — whitespace count is the cheap exact baseline.
    """
    return df.withColumn(out, _token_count(F.col(textcol)))


def token_count_bpe(
    df: DataFrame, textcol: str = "text", out: str = "n_tokens_bpe", chars_per_token: float = 4.0
) -> DataFrame:
    """BPE-style subword-token *estimate*: word tokens plus an extra
    token per ``chars_per_token`` characters beyond the first 4 of each
    word (the standard chars/4 heuristic, computed exactly as
    ``ceil(len(word)/chars_per_token)`` summed over words)."""
    t = F.col(textcol)
    toks = _tokens(t)
    per_word = F.transform(toks, lambda w: F.ceil(F.length(w) / F.lit(chars_per_token)))
    total = F.aggregate(per_word, F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    return df.withColumn(
        out, F.when(F.length(F.trim(t)) == 0, F.lit(0).cast("bigint")).otherwise(total)
    )


def text_quality(
    df: DataFrame,
    textcol: str = "text",
    stopwords: tuple[str, ...] = LANG_MARKERS["en"],
    round_to: int = 6,
) -> DataFrame:
    """Heuristic quality signals per document, as new columns:

    - ``n_chars_obs``: character length of the raw text
    - ``n_tokens``: whitespace token count
    - ``mean_token_len``: non-whitespace chars / tokens
    - ``punct_ratio``: sentence-punctuation chars / chars
    - ``stopword_ratio``: stopword tokens / tokens
    - ``quality_score``: blended [0,1] score (length x stopword
      presence x sane word length), the kind of gate used to filter
      LLM pretraining shards.

    All ratios are NULL-safe (0-token docs get 0 ratios, score 0).
    """
    t = F.col(textcol)
    toks = _tokens(t)
    n_chars = F.length(t)
    n_tok = _token_count(t)
    nonspace = F.length(F.regexp_replace(t, r"\s+", ""))
    punct = F.length(t) - F.length(F.regexp_replace(t, PUNCT_CLASS, ""))
    stop_arr = F.array(*[F.lit(s) for s in stopwords])
    stop_hits = F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, F.lower(w))))

    mean_len = F.when(n_tok > 0, nonspace / n_tok).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, stop_hits / n_tok).otherwise(F.lit(0.0))
    # Blend: each factor in [0,1]; least() clamps the length credit.
    score = (
        F.least(n_tok / F.lit(100.0), F.lit(1.0))
        * F.least(mean_len / F.lit(5.0), F.lit(1.0))
        * (F.lit(1.0) - F.least(punct_ratio * 5, F.lit(1.0)) * F.lit(0.5))
    )
    return (
        df.withColumn("n_chars_obs", n_chars)
        .withColumn("n_tokens", n_tok)
        .withColumn("mean_token_len", F.round(mean_len, round_to))
        .withColumn("punct_ratio", F.round(punct_ratio, round_to))
        .withColumn("stopword_ratio", F.round(stop_ratio, round_to))
        .withColumn("quality_score", F.round(score, round_to))
    )


def language_id(
    df: DataFrame,
    textcol: str = "text",
    out: str = "lang_pred",
    markers: dict[str, tuple[str, ...]] | None = None,
) -> DataFrame:
    """Stopword-profile language ID: count marker-token hits per
    candidate language, emit the argmax (alphabetical tie-break), or
    ``'und'`` (undetermined) when nothing hits.

    One pass over the token array per language — no shuffle, no UDF.
    """
    markers = markers if markers is not None else LANG_MARKERS
    toks = _tokens(F.col(textcol))
    scored = df
    langs = sorted(markers)
    for lang in langs:
        arr = F.array(*[F.lit(m) for m in markers[lang]])
        scored = scored.withColumn(
            f"__hits_{lang}",
            F.size(F.filter(toks, lambda w: F.array_contains(arr, F.lower(w)))),
        )
    best = F.greatest(*[F.col(f"__hits_{lang}") for lang in langs])
    pred = F.lit("und")
    # build the when-chain in reverse so earlier (alphabetical) langs win ties
    for lang in reversed(langs):
        pred = F.when(
            (F.col(f"__hits_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return scored.withColumn(out, pred).drop(*[f"__hits_{lang}" for lang in langs])


def repetition_scores(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    round_to: int = 6,
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1):
    ``top_word_frac`` / ``top_bigram_frac`` — the fraction of tokens
    accounted for by the single most frequent (lowercased) word /
    word-2-gram. High values flag boilerplate and degenerate repetition
    loops, the classic pretraining-shard rejects.

    Scale shape: LINEAR explode -> (doc, gram) partial-agg -> per-doc
    max/sum, joined back on ``idcol`` — not the per-doc
    ``transform(distinct, d -> count)`` HOF form, which is O(len²)
    per document and dies on long docs. Docs with no tokens (or no
    bigrams) get 0.0.
    """
    from pd_utils_spark.extensions.dedup import _norm

    t = F.col(textcol)
    norm = _norm(t)  # same normalization as the dedup family (oracle: _SQL_NORM)
    # materialize the token array in its own projection: the bigram
    # lambda must slice a BOUND attribute, or Catalyst re-inlines the
    # normalize+split per element (no CSE inside HOF bodies)
    toked = df.select(
        F.col(idcol),
        norm.alias("__norm__"),
        F.split(norm, " ").alias("__toks__"),
    )
    toks = F.col("__toks__")
    n = F.size(toks)
    has_text = F.length(F.col("__norm__")) > 0

    words = toked.select(
        F.col(idcol),
        F.explode(F.when(has_text, toks).otherwise(F.array())).alias("__g__"),
    )
    bigrams = toked.select(
        F.col(idcol),
        F.explode(
            F.when(
                has_text & (n >= 2),
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
                ),
            ).otherwise(F.array())
        ).alias("__g__"),
    )

    def top_frac(grams: DataFrame, out: str) -> DataFrame:
        counts = grams.groupBy(idcol, "__g__").agg(F.count(F.lit(1)).alias("__c__"))
        return counts.groupBy(idcol).agg(
            F.round(F.max("__c__") / F.sum("__c__"), round_to).alias(out)
        )

    out = (
        df.join(top_frac(words, "top_word_frac"), on=idcol, how="left")
        .join(top_frac(bigrams, "top_bigram_frac"), on=idcol, how="left")
        .fillna({"top_word_frac": 0.0, "top_bigram_frac": 0.0})
    )
    return out


def term_blocklist_filter(
    df: DataFrame,
    terms: Sequence[str],
    textcol: str = "text",
    idcol: str = "doc_id",
    drop: bool = True,
) -> DataFrame:
    """C4's badword-list page filter (Raffel et al. 2020 §2.2 removes
    any page containing a word from a public blocklist): count
    whole-word, case-insensitive occurrences of ``terms`` and either
    DROP matching documents (``drop=True``, the C4 rule) or annotate
    every row with ``blocklist_hits`` / ``blocked`` for
    threshold-tuning and audit (``drop=False``).

    Matching is token-boundary exact (``\\b``-delimited, lowercased),
    not substring — "class" must not block "classic". Multi-word terms
    match as phrases. The term list is compiled into ONE alternation
    regex evaluated JVM-side: map-only, shuffle-free, no UDF; at
    thousands of terms prefer several regexes or an explode+join
    against a broadcast term table (same result, better compile
    behavior) — this operator targets the common tens-to-hundreds
    list.
    """
    terms = [t for t in terms if t and t.strip()]
    if not terms:
        raise ValueError("terms must contain at least one non-empty term")
    import re as _re

    alts = "|".join(
        _re.escape(t.strip().lower()).replace(r"\ ", r"\s+") for t in sorted(terms)
    )
    pat = rf"\b({alts})\b"
    hits = F.regexp_count(F.lower(F.col(textcol)), F.lit(pat)).cast("bigint")
    if drop:
        return df.withColumn("__h__", hits).filter(
            F.col("__h__") == 0
        ).drop("__h__")
    return df.withColumn("blocklist_hits", hits).withColumn(
        "blocked", F.col("blocklist_hits") > 0
    )


def top_ngrams(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    n: int = 3,
    k: int = 100,
) -> DataFrame:
    """Corpus-level most-frequent word ``n``-grams —
    ``(ngram, n_occurrences, n_docs)``, heaviest first with a total
    tie-break (count desc, doc-count desc, ngram asc) so top-``k`` is
    deterministic. The boilerplate-DISCOVERY diagnostic: run this
    before committing to `dedup_lines`/flood caps to see what the
    corpus actually repeats (cookie banners, license footers, nav
    text); `repetition_scores` flags repetition per document, this
    names the offenders corpus-wide.

    Plan: normalize+tokenize once per doc, build the gram array behind
    a plan barrier (the Generate re-evaluation pathology SCALE.md
    documents for every shingle explode), one explode, one hash
    aggregate on the gram, TakeOrdered for the top-k — the gram
    partial-agg combines map-side, so ubiquitous boilerplate grams
    arrive at the reducer as one row per partition, never a hot-key
    flood.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1: {n}")
    from pd_utils_spark.extensions.dedup import _norm
    from pd_utils_spark.utils import plan_barrier

    norm = _norm(F.col(textcol))
    toked = df.select(
        F.col(idcol),
        F.split(norm, " ").alias("__toks__"),
        F.length(norm).alias("__len__"),
    )
    toks = F.col("__toks__")
    sz = F.size(toks)
    grams = F.when(
        (F.col("__len__") > 0) & (sz >= n),
        F.transform(
            F.sequence(F.lit(1), sz - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ex = plan_barrier(
        toked.select(F.col(idcol), grams.alias("__gs__"))
    ).select(F.col(idcol), F.explode("__gs__").alias("ngram"))
    return (
        ex.groupBy("ngram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct(idcol).alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.desc("n_docs"), "ngram")
        .limit(k)
    )


def gopher_quality_filter(
    df: DataFrame,
    textcol: str = "text",
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_token_len: float = 3.0,
    max_mean_token_len: float = 10.0,
    max_symbol_frac: float = 0.1,
    min_stopword_hits: int = 2,
    stopwords: tuple[str, ...] = LANG_MARKERS["en"],
) -> DataFrame:
    """Gopher rule-based document gate (Rae et al. 2021 §A1.1) as
    boolean columns plus a combined ``passes_gopher``: token count in
    range, mean token length in range, symbol fraction below threshold,
    and at least ``min_stopword_hits`` distinct stopwords present.
    Pure column expressions — zero shuffles, fully codegen; the
    standard pre-dedup gate of an LLM data pipeline.
    """
    t = F.col(textcol)
    toks = _tokens(t)
    n_tok = _token_count(t)
    nonspace = F.length(F.regexp_replace(t, r"\s+", ""))
    # Unicode letter/digit classes, NOT [A-Za-z0-9]: an ASCII-only
    # class counts every umlaut/accent/CJK char as a "symbol" and
    # rejects clean non-English text wholesale
    alnum = F.length(F.regexp_replace(t, r"[^\p{L}\p{N}]", ""))
    mean_len = F.when(n_tok > 0, nonspace / n_tok).otherwise(F.lit(0.0))
    symbol_frac = F.when(nonspace > 0, (nonspace - alnum) / nonspace).otherwise(
        F.lit(0.0)
    )
    stop_arr = F.array(*[F.lit(s) for s in stopwords])
    distinct_hits = F.size(
        F.array_intersect(F.transform(toks, F.lower), stop_arr)
    )
    ok_len = (n_tok >= min_tokens) & (n_tok <= max_tokens)
    ok_word = (mean_len >= min_mean_token_len) & (mean_len <= max_mean_token_len)
    ok_symbol = symbol_frac <= max_symbol_frac
    ok_stop = distinct_hits >= min_stopword_hits
    return (
        df.withColumn("ok_token_count", ok_len)
        .withColumn("ok_mean_token_len", ok_word)
        .withColumn("ok_symbol_frac", ok_symbol)
        .withColumn("ok_stopwords", ok_stop)
        .withColumn(
            "passes_gopher", ok_len & ok_word & ok_symbol & ok_stop
        )
    )


def c4_line_filter(
    df: DataFrame,
    textcol: str = "text",
    out: str = "clean_text",
    min_words_per_line: int = 3,
    require_terminal_punct: bool = True,
    banned_phrases: tuple[str, ...] = ("lorem ipsum",),
    banned_chars: tuple[str, ...] = ("{",),
) -> DataFrame:
    """C4-style cleaning (Raffel et al. 2020 §2.2) as pure column
    expressions: rebuild each document from only the lines that (a)
    have at least ``min_words_per_line`` words and (b) end in terminal
    punctuation, and flag whole documents containing banned phrases
    (lorem ipsum placeholder text) or banned characters (curly braces
    — code/markup leakage). New columns:

    - ``<out>``: newline-joined surviving lines;
    - ``n_lines_kept`` / ``n_lines_total``;
    - ``c4_page_ok``: no banned phrase/char anywhere in the raw text.

    Zero shuffles — split/filter/join run inside whole-stage codegen;
    at 100 TB this is a map-only pass over the scan.
    """
    t = F.col(textcol)
    lines = F.split(t, r"\n")
    word_ok = lambda ln: F.size(F.split(F.trim(ln), r"\s+")) >= min_words_per_line

    def line_ok(ln):
        cond = word_ok(ln)
        if require_terminal_punct:
            cond = cond & F.trim(ln).rlike(r"[.!?\"']$")
        return cond

    kept = F.filter(lines, line_ok)
    low = F.lower(t)
    page_bad = F.lit(False)
    for p in banned_phrases:
        page_bad = page_bad | low.contains(p.lower())
    for ch in banned_chars:
        page_bad = page_bad | t.contains(ch)
    return (
        df.withColumn(out, F.array_join(kept, "\n"))
        .withColumn("n_lines_kept", F.size(kept))
        .withColumn("n_lines_total", F.size(lines))
        .withColumn("c4_page_ok", ~page_bad)
    )


def char_stats(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    entropy_prefix_chars: int = 2048,
    round_to: int = 6,
) -> DataFrame:
    """Character-level corpus-quality signals per document:

    - ``n_chars``: raw length;
    - ``ascii_ratio``: printable-ASCII fraction (binary blobs,
      wrong-charset text and emoji floods all push this down);
    - ``replacement_chars``: count of U+FFFD — the smoking gun of a
      decode-with-wrong-encoding ingest bug;
    - ``mojibake_hits``: occurrences of the classic UTF-8-read-as-
      Latin-1 two-byte artifacts (Ã., Â., â€.) — catches double
      encoding BEFORE a human ever reads a sample;
    - ``prefix_entropy``: Shannon entropy (bits/char) of the first
      ``entropy_prefix_chars`` characters — near 0 for degenerate
      repetition, ~4.1 for English prose, >5 flags base64/hex blobs
      masquerading as text.

    Scale shape: the ratio/count signals are pure column expressions
    (map-only, shuffle-free). Entropy needs per-character counts, so
    it explodes characters — bounded by the PREFIX, not the document
    (2048 rows/doc regardless of doc size; entropy of a prefix is the
    standard cheap proxy), then one (doc, char) partial-agg and one
    per-doc rollup.
    """
    t = F.col(textcol)
    n = F.length(t)
    ascii_n = F.length(F.regexp_replace(t, r"[^\x20-\x7e]", ""))
    repl = n - F.length(F.regexp_replace(t, "�", ""))
    moji = F.regexp_count(t, F.lit("Ã.|Â.|â€.")).cast("bigint")
    base = df.select(
        F.col(idcol),
        n.alias("n_chars"),
        F.round(
            F.when(n > 0, ascii_n / n).otherwise(F.lit(0.0)), round_to
        ).alias("ascii_ratio"),
        repl.cast("bigint").alias("replacement_chars"),
        moji.alias("mojibake_hits"),
    )
    from pyspark.sql import Window

    prefix = F.substring(t, 1, entropy_prefix_chars)
    chars = df.select(
        F.col(idcol), F.explode(F.split(prefix, "")).alias("__ch__")
    ).filter(F.length("__ch__") > 0)
    counts = chars.groupBy(idcol, "__ch__").agg(
        F.count(F.lit(1)).alias("__c__")
    )
    # the per-doc total rides the SAME partitioning the count agg just
    # produced, so the window adds no extra Exchange
    ent = (
        counts.withColumn(
            "__tot__", F.sum("__c__").over(Window.partitionBy(idcol))
        )
        .withColumn("__p__", F.col("__c__") / F.col("__tot__"))
        .groupBy(idcol)
        .agg(
            F.round(
                -F.sum(F.col("__p__") * F.log2("__p__")), round_to
            ).alias("prefix_entropy")
        )
    )
    return base.join(ent, idcol, "left").fillna({"prefix_entropy": 0.0})


def doc_fingerprint(
    df: DataFrame, textcol: str = "text", out: str = "fingerprint", normalize: bool = True
) -> DataFrame:
    """Content fingerprint: md5 hex of the (optionally normalized)
    text. Normalization = lowercase + collapse all whitespace runs to
    one space + trim, so formatting-only variants collide — the
    standard exact-dup key for document pipelines.

    md5 is chosen over xxhash64 deliberately: its hex output is
    engine-portable (same string in Spark, DuckDB, Postgres), which
    makes downstream dedup joins reproducible across systems.
    """
    t = F.col(textcol)
    if normalize:
        t = F.trim(F.regexp_replace(F.lower(t), r"\s+", " "))
    return df.withColumn(out, F.md5(t.cast("string")))


def rolling_hash_fingerprints(
    df: DataFrame,
    textcol: str = "text",
    k: int = 5,
    out: str = "shingle_hashes",
) -> DataFrame:
    """Per-document array of k-word-shingle md5 fingerprints (the
    rolling-hash building block for winnowing / near-dup detection).

    Shingles are built JVM-side with ``transform(sequence(...))`` over
    the token array — one row stays one row (array column), so this is
    shuffle-free and streams through codegen. The result sits behind a
    ``plan_barrier``: consumers almost always ``explode`` it, and
    without the barrier CollapseProject inlines the whole
    tokenize+shingle+md5 expression into the Generate operator, which
    re-evaluates it per OUTPUT row (measured 3.1 s -> 0.5 s at sf0.1
    for the exploded form — same pathology as SCALE.md's winnowing
    note).
    """
    from pd_utils_spark.utils import plan_barrier

    # token array materialized in its own projection so the transform
    # lambda slices a bound attribute instead of re-tokenizing per
    # shingle (no CSE inside higher-order-function bodies)
    toked = df.withColumn("__rh_toks__", _tokens(F.col(textcol)))
    toks = F.col("__rh_toks__")
    n = F.size(toks)
    # sequence(1, 0) counts DOWN in Spark, so docs shorter than k need
    # an explicit empty-array branch
    idx = F.sequence(F.lit(1), n - F.lit(k - 1))
    shingles = F.when(
        n >= k, F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    ).otherwise(F.array().cast("array<string>"))
    return plan_barrier(
        toked.withColumn(out, F.transform(shingles, F.md5)).drop("__rh_toks__")
    )


def winnowing_fingerprints(
    df: DataFrame,
    textcol: str = "text",
    k: int = 5,
    window: int = 4,
    idcol: str = "doc_id",
    out: str = "winnow_hashes",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): over the sequence of k-gram
    rolling hashes, keep the MINIMUM hash of every window of
    ``window`` consecutive hashes, deduplicated. Guarantees any match
    of length >= window + k - 1 tokens shares a fingerprint, while
    storing ~2/(window+1) of the hashes — the standard
    position-robust containment/plagiarism fingerprint.

    Documents with fewer than ``window`` k-grams (but at least one)
    contribute the min of all their hashes; shorter-than-k docs get an
    empty array. Row-local array math on BOUND attributes — no
    shuffle, no UDF; O(n * window) comparisons per doc.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1: {window}")
    hashed = rolling_hash_fingerprints(df, textcol, k, out="__wh__")
    h = F.col("__wh__")
    n = F.size(h)
    idx = F.sequence(F.lit(1), n - F.lit(window - 1))
    picked = (
        F.when(n == 0, F.array().cast("array<string>"))
        .when(
            n >= window,
            F.array_distinct(
                F.transform(idx, lambda i: F.array_min(F.slice(h, i, window)))
            ),
        )
        .otherwise(F.array(F.array_min(h)))
    )
    # barrier for the same reason as rolling_hash_fingerprints: an
    # explode consumer must read the picked array as a bound
    # attribute, not re-evaluate the min-over-window transform per
    # output row
    from pd_utils_spark.utils import plan_barrier

    return plan_barrier(hashed.withColumn(out, picked).drop("__wh__"))


def vocabulary(
    df: DataFrame,
    textcol: str = "text",
    min_count: int = 1,
    lowercase: bool = True,
) -> DataFrame:
    """Corpus vocabulary: one row per distinct token with ``count``
    (total occurrences) and ``doc_freq`` (documents containing it).
    One explode + one hash aggregation with map-side combine — the
    shuffle carries one partial row per (map partition, token).
    """
    t = F.col(textcol)
    toks = _tokens(F.lower(t) if lowercase else t)
    ex = df.select(F.monotonically_increasing_id().alias("__doc__"), toks.alias("__t__"))
    ex = ex.select("__doc__", F.explode("__t__").alias("token")).filter(
        F.length("token") > 0
    )
    out = ex.groupBy("token").agg(
        F.count("*").alias("count"),
        F.countDistinct("__doc__").alias("doc_freq"),
    )
    return out.filter(F.col("count") >= min_count)


def tf_idf(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    lowercase: bool = True,
    round_to: int | None = None,
) -> DataFrame:
    """Document-term TF-IDF: ``tf`` = term count / doc token count,
    ``idf`` = ln(N / doc_freq) (plain inverse document frequency),
    output one row per (doc, token).

    Two hash aggregations (doc-term counts, then doc-frequency per
    token joined back) — both partial-aggregated; the per-token
    doc-frequency frame is broadcast when small. Deterministic and
    oracle-checkable: no smoothing constants beyond the ln(N/df) form.
    """
    t = F.col(textcol)
    toks = _tokens(F.lower(t) if lowercase else t)
    ex = df.select(F.col(idcol), F.explode(toks).alias("token")).filter(
        F.length("token") > 0
    )
    term_counts = ex.groupBy(idcol, "token").agg(F.count("*").alias("tc"))
    doc_lens = ex.groupBy(idcol).agg(F.count("*").alias("dl"))
    doc_freq = term_counts.groupBy("token").agg(F.count("*").alias("df"))
    # corpus size as a one-row aggregate cross-joined back — no driver
    # round trip (SCALE.md rule 4)
    n_docs = ex.agg(F.countDistinct(idcol).cast("double").alias("__n__"))
    out = (
        term_counts.join(doc_lens, idcol)
        .join(F.broadcast(doc_freq), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            idcol,
            "token",
            (F.col("tc") / F.col("dl")).alias("tf"),
            F.log(F.col("__n__") / F.col("df")).alias("idf"),
        )
        .withColumn("tfidf", F.col("tf") * F.col("idf"))
    )
    if round_to is not None:
        for c in ("tf", "idf", "tfidf"):
            out = out.withColumn(c, F.round(c, round_to))
    return out


def bm25_topk(
    corpus: DataFrame,
    queries: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    query_idcol: str = "query_id",
    query_textcol: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    lowercase: bool = True,
    round_to: int | None = None,
) -> DataFrame:
    """BM25 lexical retrieval: top-``k`` corpus docs per query row.

    Okapi BM25 with the Lucene-style non-negative idf
    ``ln(1 + (N - df + 0.5) / (df + 0.5))``; score(q, d) =
    sum over distinct query tokens t of
    ``idf(t) * tc * (k1 + 1) / (tc + k1 * (1 - b + b * dl/avgdl))``.

    Plan (100 TB posture): corpus tokenize -> one (doc, token) hash
    aggregate (partial-agg first); per-token doc-freq is a second small
    aggregate broadcast back; N and avgdl ride a one-row aggregate
    cross-joined (no driver round trip). The DISTINCT query-token frame
    is broadcast, so the scoring join is map-side against the posting
    aggregate; final per-(query, doc) sum is one shuffle keyed by
    (query, doc) and the top-k is a per-query window. Documents that
    share no token with a query score 0 and are absent — standard
    inverted-index semantics.

    Ties (same rounded score) break on ascending doc id, so top-k is
    deterministic; pass ``round_to`` when hash-matching an oracle.
    """
    t = F.col(textcol)
    toks = _tokens(F.lower(t) if lowercase else t)
    ex = corpus.select(F.col(idcol), F.explode(toks).alias("token")).filter(
        F.length("token") > 0
    )
    term_counts = ex.groupBy(idcol, "token").agg(F.count("*").alias("tc"))
    doc_lens = ex.groupBy(idcol).agg(F.count("*").alias("dl"))
    doc_freq = term_counts.groupBy("token").agg(F.count("*").alias("df"))
    stats = doc_lens.agg(
        F.count("*").cast("double").alias("__n__"),
        F.avg("dl").alias("__avgdl__"),
    )
    qt = F.col(query_textcol)
    qtoks = _tokens(F.lower(qt) if lowercase else qt)
    qterms = (
        queries.select(F.col(query_idcol), F.explode(qtoks).alias("token"))
        .filter(F.length("token") > 0)
        .distinct()
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n__") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_part = (F.col("tc") * (k1 + 1)) / (
        F.col("tc") + k1 * (1 - b + b * F.col("dl") / F.col("__avgdl__"))
    )
    contrib = (
        term_counts.join(F.broadcast(qterms), "token")
        .join(doc_lens, idcol)
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(doc_freq), "token")
        .select(query_idcol, idcol, (idf * tf_part).alias("__c__"))
    )
    scores = contrib.groupBy(query_idcol, idcol).agg(F.sum("__c__").alias("score"))
    if round_to is not None:
        scores = scores.withColumn("score", F.round("score", round_to))
    from pyspark.sql import Window

    w = Window.partitionBy(query_idcol).orderBy(F.desc("score"), F.col(idcol))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_idcol, idcol, "score", "rank")
    )


def unigram_logprob(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    lowercase: bool = True,
    round_to: int | None = None,
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram LM — the classic cheap fluency/quality signal (documents of
    rare gibberish tokens score very negative; boilerplate scores high).

    ``p(t) = count(t) / total_tokens`` over the whole corpus (MLE, no
    smoothing — every scored token appears at least once by
    construction); output per doc: ``n_tokens``, ``logprob_mean`` =
    mean over the doc's tokens of ``ln p(t)``, and ``perplexity`` =
    ``exp(-logprob_mean)``. Empty documents are dropped (no tokens to
    score).

    Plan: one explode, one (token) hash aggregate for the LM (partial
    agg; vocabulary-sized result broadcast back), corpus total via a
    one-row aggregate cross-joined, then one per-doc aggregate — two
    shuffles total, both keyed well below row count at 100 TB.
    """
    t = F.col(textcol)
    toks = _tokens(F.lower(t) if lowercase else t)
    ex = df.select(F.col(idcol), F.explode(toks).alias("token")).filter(
        F.length("token") > 0
    )
    lm = ex.groupBy("token").agg(F.count("*").alias("__tc__"))
    total = lm.agg(F.sum("__tc__").cast("double").alias("__tot__"))
    scored = (
        ex.join(F.broadcast(lm), "token")
        .crossJoin(F.broadcast(total))
        .select(idcol, F.log(F.col("__tc__") / F.col("__tot__")).alias("__lp__"))
    )
    out = scored.groupBy(idcol).agg(
        F.count("*").alias("n_tokens"),
        F.avg("__lp__").alias("logprob_mean"),
    )
    out = out.withColumn("perplexity", F.exp(-F.col("logprob_mean")))
    if round_to is not None:
        for c in ("logprob_mean", "perplexity"):
            out = out.withColumn(c, F.round(c, round_to))
    return out


def bigram_logprob(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    lam: float = 0.7,
    lowercase: bool = True,
    round_to: int | None = None,
) -> DataFrame:
    """Per-document mean log-probability under an INTERPOLATED bigram
    LM fit on the corpus itself — the next step up from
    :func:`unigram_logprob` toward what CCNet actually ships (a real
    LM): context-aware, so shuffled-word salad scores far below fluent
    text even when both draw common tokens.

    Model: ``p(w_i | w_{i-1}) = lam * c(w_{i-1} w_i)/c_ctx(w_{i-1})
    + (1-lam) * c(w_i)/total`` for positions >= 2, and the unigram
    term alone for each document's first token (no cross-document
    context — documents are independent). Interpolation keeps every
    probability nonzero wherever the unigram does, so scores stay
    finite without discounting machinery. Output per doc:
    ``n_tokens``, ``n_bigrams``, ``logprob_mean`` (mean of all
    ``n_tokens`` per-token log scores), ``perplexity`` =
    ``exp(-logprob_mean)``. Empty documents are dropped.

    Plan: tokens posexplode once; bigrams come from a ``lag`` window
    inside each document (one shuffle on ``idcol``); the bigram LM is
    one (prev, cur) hash aggregate and the context counts are a
    re-aggregation of IT (never a second corpus pass); scoring joins
    tokens to the two LMs — the unigram table is broadcast
    (vocabulary-sized), the bigram join is left to AQE since bigram
    vocabulary can exceed broadcast limits at corpus scale.
    """
    from pyspark.sql import Window

    t = F.col(textcol)
    toks = _tokens(F.lower(t) if lowercase else t)
    ex = (
        df.select(F.col(idcol), F.posexplode(toks).alias("__p__", "token"))
        .filter(F.length("token") > 0)
    )
    w = Window.partitionBy(idcol).orderBy("__p__")
    seq = ex.withColumn("prev", F.lag("token").over(w))

    uni = seq.groupBy("token").agg(F.count("*").alias("__uc__"))
    total = uni.agg(F.sum("__uc__").cast("double").alias("__tot__"))
    bi = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy("prev", "token")
        .agg(F.count("*").alias("__bc__"))
    )
    ctx = bi.groupBy("prev").agg(F.sum("__bc__").alias("__cc__"))

    p_uni = F.col("__uc__") / F.col("__tot__")
    p_bi = F.col("__bc__") / F.col("__cc__")
    scored = (
        seq.join(F.broadcast(uni), "token")
        .crossJoin(F.broadcast(total))
        .join(bi, ["prev", "token"], "left")
        .join(ctx, "prev", "left")
        .select(
            idcol,
            F.when(F.col("prev").isNull(), F.log(p_uni))
            .otherwise(
                F.log(
                    F.lit(float(lam)) * F.coalesce(p_bi, F.lit(0.0))
                    + F.lit(1.0 - float(lam)) * p_uni
                )
            )
            .alias("__lp__"),
            F.col("prev").isNotNull().cast("long").alias("__isbi__"),
        )
    )
    out = scored.groupBy(idcol).agg(
        F.count("*").alias("n_tokens"),
        F.sum("__isbi__").alias("n_bigrams"),
        F.avg("__lp__").alias("logprob_mean"),
    )
    out = out.withColumn("perplexity", F.exp(-F.col("logprob_mean")))
    if round_to is not None:
        for c in ("logprob_mean", "perplexity"):
            out = out.withColumn(c, F.round(c, round_to))
    return out


def perplexity_buckets(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    bycol: str | None = None,
    lowercase: bool = True,
    round_to: int | None = None,
) -> DataFrame:
    """CCNet-style perplexity bucketing: score every document with the
    corpus unigram LM (:func:`unigram_logprob`) and split each
    ``bycol`` group (typically language) into ``head`` / ``middle`` /
    ``tail`` terciles by model fit — head = the most LM-like (lowest
    perplexity) third, the slice CCNet keeps preferentially, tail =
    the most surprising third (gibberish, boilerplate markup, OCR
    noise... or genuinely novel text, which is why CCNet samples all
    three rather than dropping the tail outright).

    Output: ``(idcol, [bycol], n_tokens, logprob_mean, perplexity,
    bucket)``. Cutoffs are EXACT interpolated terciles of
    ``logprob_mean`` per group (ties-to-head on exact boundary); the
    reference recipe uses a trained Kneser-Ney LM per language — the
    scoring model is pluggable here (any per-doc score column works by
    bucketing on it directly), the bucketing contract is what this
    operator owns.

    Plan: the LM pass is unigram_logprob's two shuffles; the cutoffs
    are ONE tiny per-group aggregate (2-value percentile array)
    broadcast back; bucket assignment is a map-only CASE. Nothing new
    shuffles at corpus scale.
    """
    scored = unigram_logprob(df, textcol, idcol, lowercase)
    keep = [idcol] + ([bycol] if bycol else [])
    dl = df.select(*keep).join(scored, idcol)
    grp = [bycol] if bycol else []
    # literals must parse to the same doubles the oracle's 1.0/3 does
    cuts = dl.groupBy(*grp).agg(
        F.expr(
            f"percentile(logprob_mean, array({1 / 3!r}, {2 / 3!r}))"
        ).alias("__cs__")
    ).select(
        *grp,
        F.col("__cs__")[0].alias("__c1__"),
        F.col("__cs__")[1].alias("__c2__"),
    )
    joined = (
        dl.join(F.broadcast(cuts), grp) if grp else dl.crossJoin(F.broadcast(cuts))
    )
    out = joined.select(
        *keep,
        "n_tokens",
        "logprob_mean",
        "perplexity",
        F.when(F.col("logprob_mean") >= F.col("__c2__"), F.lit("head"))
        .when(F.col("logprob_mean") >= F.col("__c1__"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    if round_to is not None:
        for c in ("logprob_mean", "perplexity"):
            out = out.withColumn(c, F.round(c, round_to))
    return out


def token_weight_score(
    df: DataFrame,
    weights: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    bias: float = 0.0,
    lowercase: bool = True,
    out: str = "quality_score",
) -> DataFrame:
    """Linear bag-of-tokens classifier scoring — the fastText-style
    quality filter (wiki-vs-CommonCrawl) as a pure relational plan:
    each document's score is ``sigmoid(bias + sum of its tokens'
    weights)`` given a ``(token, weight)`` frame (trained offline,
    loaded as data — the engine scores, it does not train). Tokens
    absent from the table contribute 0 (out-of-vocabulary). Adds
    ``out`` plus ``n_scored_tokens`` (how many tokens hit the
    vocabulary — a low hit count means the score is meaningless for
    that doc). Rows with no tokens at all score ``sigmoid(bias)``.

    Plan: one explode + one broadcast join against the weight table
    (a trained vocabulary is ~100k-1M rows — broadcast territory) +
    one per-doc aggregate; the corpus shuffles once on the doc id.
    Compose with :func:`filter_top_fraction` for "keep the best q% by
    classifier score".
    """
    t = F.col(textcol)
    toks = _tokens(F.lower(t) if lowercase else t)
    ex = df.select(F.col(idcol), F.explode_outer(toks).alias("token"))
    scored = ex.join(F.broadcast(weights), "token", "left")
    agg = scored.groupBy(idcol).agg(
        F.sum(F.coalesce(F.col("weight"), F.lit(0.0))).alias("__s__"),
        F.count(F.col("weight")).alias("n_scored_tokens"),
    )
    z = F.lit(float(bias)) + F.coalesce(F.col("__s__"), F.lit(0.0))
    return (
        df.join(agg, idcol, "left")
        .withColumn(
            "n_scored_tokens", F.coalesce("n_scored_tokens", F.lit(0))
        )
        .withColumn(out, F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))
        .drop("__s__")
    )


def source_kl_drift(
    df: DataFrame,
    textcol: str = "text",
    sourcecol: str = "source",
    lowercase: bool = True,
    round_to: int | None = None,
) -> DataFrame:
    """Per-source distribution drift: KL(P_source || P_corpus) over
    unigram token distributions. The standard mixing-monitor signal for
    multi-source corpora — a source whose token distribution wanders
    from the blended corpus (scraped spam, encoding breakage, a new
    domain) shows up as a KL jump.

    ``KL = sum_t P_s(t) * ln(P_s(t) / Q(t))`` with MLE probabilities;
    every source token appears in the corpus by construction, so Q(t)
    is never zero and KL is finite. Output: one row per source with
    ``n_tokens`` and ``kl_divergence``.

    Plan: one explode -> one (source, token) hash aggregate; the
    corpus distribution is a second aggregate over *that* (token-
    cardinality input, not row count); totals ride one-row / per-source
    broadcast joins. Everything downstream of the first aggregate is
    vocabulary-sized — at 100 TB the explode+partial-agg scan is the
    only full-data pass.
    """
    t = F.col(textcol)
    toks = _tokens(F.lower(t) if lowercase else t)
    ex = df.select(F.col(sourcecol), F.explode(toks).alias("token")).filter(
        F.length("token") > 0
    )
    st = ex.groupBy(sourcecol, "token").agg(F.count("*").alias("__stc__"))
    stot = st.groupBy(sourcecol).agg(F.sum("__stc__").cast("double").alias("__stot__"))
    ct = st.groupBy("token").agg(F.sum("__stc__").alias("__ctc__"))
    ctot = ct.agg(F.sum("__ctc__").cast("double").alias("__ctot__"))
    p = F.col("__stc__") / F.col("__stot__")
    q = F.col("__ctc__") / F.col("__ctot__")
    out = (
        st.join(F.broadcast(stot), sourcecol)
        .join(F.broadcast(ct), "token")
        .crossJoin(F.broadcast(ctot))
        .groupBy(sourcecol)
        .agg(
            F.sum("__stc__").alias("n_tokens"),
            F.sum(p * F.log(p / q)).alias("kl_divergence"),
        )
    )
    if round_to is not None:
        out = out.withColumn("kl_divergence", F.round("kl_divergence", round_to))
    return out


def chunk_documents(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    chunk_tokens: int = 128,
    stride: int | None = None,
    out_text: str = "chunk_text",
) -> DataFrame:
    """Sliding-window document chunking (context-window prep for
    training / RAG indexing): split each document's token sequence into
    windows of ``chunk_tokens``, advancing ``stride`` tokens per window
    (``stride == chunk_tokens`` -> disjoint chunks; smaller stride ->
    overlapping chunks, the HF ``return_overflowing_tokens``
    convention). Every token is covered; the final window may be
    shorter. Empty documents produce no rows.

    Output: (idcol, ``chunk_index`` 0-based, ``out_text``,
    ``n_chunk_tokens``).

    Plan shape: the token array is materialized once in its own
    projection (bound attribute), then the ONLY thing exploded is the
    cheap window-start index sequence — the chunk text is sliced AFTER
    the explode, one slice per output row. This sidesteps the
    Generate-re-derives-inline-collections trap (SCALE.md): no
    expensive array of chunk strings is ever built pre-explode, and the
    whole thing is row-local — no shuffle, no UDF, linear in output
    tokens.
    """
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1: {chunk_tokens}")
    stride = chunk_tokens if stride is None else stride
    if not 1 <= stride <= chunk_tokens:
        raise ValueError(
            f"stride must be in [1, chunk_tokens={chunk_tokens}]: {stride}"
        )
    t = F.col(textcol)
    toked = df.withColumn(
        "__ck_toks__",
        F.when(F.length(F.trim(t)) == 0, F.array().cast("array<string>")).otherwise(
            _tokens(t)
        ),
    )
    toks = F.col("__ck_toks__")
    n = F.size(toks)
    # number of windows = 1 + ceil(max(0, n - chunk) / stride); emit the
    # 0-based window index and derive everything else per output row
    n_extra = F.ceil(F.greatest(n - chunk_tokens, F.lit(0)) / F.lit(stride)).cast(
        "int"
    )
    idx = F.when(n > 0, F.sequence(F.lit(0), n_extra)).otherwise(
        F.array().cast("array<int>")
    )
    ex = toked.select(
        F.col(idcol), toks.alias("__ck_toks__"), F.explode(idx).alias("chunk_index")
    )
    start = F.col("chunk_index") * stride + 1
    return ex.select(
        idcol,
        "chunk_index",
        F.concat_ws(" ", F.slice(F.col("__ck_toks__"), start, chunk_tokens)).alias(
            out_text
        ),
        F.least(
            F.lit(chunk_tokens), F.size("__ck_toks__") - start + 1
        ).alias("n_chunk_tokens"),
    )


def cluster_top_terms(
    df: DataFrame,
    clustercol: str = "cluster",
    textcol: str = "text",
    top_k: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Distinctive terms per document cluster — the labeling step
    after any clustering (k-means cells, near-dup components, topic
    buckets): for each cluster, the ``top_k`` terms by cluster-level
    TF-IDF ``score = tf(cluster, term) * ln(n_clusters /
    df_clusters(term))`` (the class-based TF-IDF idea popularized by
    BERTopic), where ``df_clusters`` counts the clusters containing
    the term. A term appearing in every cluster scores 0 — stopwords
    eliminate themselves without a stopword list.

    Returns ``(clustercol, rank, term, count, score)``; terms with a
    cluster count below ``min_count`` are dropped before ranking
    (rare-typo noise). Ties rank by term ascending.

    Scale shape: one explode + one (cluster, term) partial-agg
    shuffle — O(distinct cluster-term pairs) after map-side combine;
    the per-term cluster-document-frequency re-aggregates THAT frame
    (no second corpus scan); ranking is a per-cluster window over
    candidate terms only. Rows with null cluster are excluded.
    """
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1: {top_k}")
    from pyspark.sql import Window

    from pd_utils_spark.extensions.dedup import _norm

    norm = _norm(F.col(textcol))
    toked = df.filter(F.col(clustercol).isNotNull()).select(
        F.col(clustercol).alias("__cl__"), _tokens(norm).alias("__toks__")
    )
    ct = (
        toked.select("__cl__", F.explode("__toks__").alias("__t__"))
        .filter(F.length("__t__") > 0)
        .groupBy("__cl__", "__t__")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    # cluster count rides the plan as a one-row broadcast (no driver
    # action — the operator stays lazy/composable like the rest)
    ncl = ct.agg(F.countDistinct("__cl__").cast("double").alias("__ncl__"))
    dfreq = ct.groupBy("__t__").agg(
        F.countDistinct("__cl__").alias("__df__")
    )
    scored = (
        ct.filter(F.col("count") >= min_count)
        .join(dfreq, "__t__")
        .crossJoin(F.broadcast(ncl))
        .withColumn(
            "score",
            F.col("count")
            * F.log(F.col("__ncl__") / F.col("__df__").cast("double")),
        )
    )
    # rank on the 9-dp-rounded score: mathematically equal scores from
    # DIFFERENT (count, df) pairs (e.g. 2*ln4 = 4*ln2) can differ in
    # the last ulp and ulp noise must not outrank the term tiebreak —
    # 9 dp is far above ulp scale and far below any real score gap
    w = Window.partitionBy("__cl__").orderBy(
        F.desc(F.round(F.col("score"), 9)), F.asc("__t__")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col("__cl__").alias(clustercol),
            "rank",
            F.col("__t__").alias("term"),
            "count",
            "score",
        )
    )


def phrase_search(
    df: DataFrame,
    phrase: str,
    textcol: str = "text",
    idcol: str = "doc_id",
) -> DataFrame:
    """Exact multi-token phrase search over the corpus: documents
    whose normalized token stream contains the normalized ``phrase``
    as a CONSECUTIVE token run — ``(doc_id, n_matches, first_pos)``
    with 1-based token positions, overlapping occurrences counted
    (the token-position semantics of an inverted index with
    positions, not substring matching — "hash join" never matches
    inside "rehash joint").

    Plan: one normalize+posexplode per doc (same ``_norm`` as the
    dedup family, so search and dedup agree on tokenization), an
    IMMEDIATE filter to positions holding ANY phrase token — the
    selectivity step an inverted index gives you, applied before
    anything shuffles — then the m posting lists meet in m-1
    equi-joins on the shifted anchor key ``(doc, pos - i)``: a
    position holding word i of the phrase votes for the occurrence
    anchored i tokens earlier, and an anchor that survives every
    join is a verified occurrence. Only phrase-token postings ever
    shuffle — the full token stream never does (a per-doc window
    with m-1 ``lead`` columns would shuffle every token of every
    document to verify a phrase that touches almost none of them).
    """
    from pd_utils_spark.extensions.dedup import _norm

    # phrase tokens normalized with the same rule, resolved at plan time
    import re as _re

    toks_p = [
        w
        for w in _re.sub(r"\s+", " ", phrase.lower()).strip().split(" ")
        if w
    ]
    if not toks_p:
        raise ValueError("phrase must contain at least one token")
    m = len(toks_p)
    norm = _norm(F.col(textcol))
    ex = (
        df.select(F.col(idcol), F.split(norm, " ").alias("__toks__"))
        .filter(F.size("__toks__") >= m)
        .select(
            F.col(idcol),
            F.posexplode("__toks__").alias("__pos__", "__tok__"),
        )
        .filter(F.col("__tok__").isin(toks_p))
    )
    anchors = ex.filter(F.col("__tok__") == toks_p[0]).select(
        F.col(idcol), F.col("__pos__").alias("__a__")
    )
    for i, wd in enumerate(toks_p[1:], start=1):
        nxt = ex.filter(F.col("__tok__") == wd).select(
            F.col(idcol), (F.col("__pos__") - i).alias("__a__")
        )
        anchors = anchors.join(nxt, [idcol, "__a__"])
    return anchors.groupBy(idcol).agg(
        F.count(F.lit(1)).alias("n_matches"),
        (F.min("__a__") + 1).alias("first_pos"),
    )


def pmi_collocations(
    df: DataFrame,
    textcol: str = "text",
    min_count: int = 5,
    k: int = 100,
) -> DataFrame:
    """Top-``k`` two-word collocations by pointwise mutual information,

        pmi(a, b) = ln( p(ab) / (p(a) p(b)) ),

    with ``p(ab)`` over all adjacent pairs and ``p(a)`` over all
    tokens — the classic collocation-mining statistic (Church &
    Hanks 1990): high-PMI pairs co-occur far more than their
    unigram frequencies predict ("new york", "machine learning"),
    which raw bigram counts (see :func:`top_ngrams`) bury under
    frequent-word noise. ``min_count`` suppresses the low-count
    pairs whose PMI estimates are pure variance. Output
    ``(w1, w2, n_pair, n_w1, n_w2, pmi)``, PMI desc with a total
    tie-break.

    Plan: one tokenize pass feeds both explodes; unigram and bigram
    counts are hash aggregates with map-side combine (shuffle volume
    O(vocabulary) / O(distinct bigrams), not O(tokens)); the unigram
    frame joins onto the MIN-COUNT-FILTERED bigram frame twice on the
    word key. Totals ride a one-row broadcast. Nothing is collected.
    """
    from pd_utils_spark.extensions.dedup import _norm
    from pd_utils_spark.utils import plan_barrier

    norm = _norm(F.col(textcol))
    toked = plan_barrier(
        df.select(F.split(norm, " ").alias("__toks__"), F.length(norm).alias("__len__"))
        .filter(F.col("__len__") > 0)
        .select("__toks__")
    )
    uni = (
        toked.select(F.explode("__toks__").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    toks = F.col("__toks__")
    pairs = (
        toked.filter(F.size(toks) >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("w1"),
                        F.element_at(toks, i + 1).alias("w2"),
                    ),
                )
            ).alias("__p__")
        )
        .select("__p__.w1", "__p__.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    # totals BEFORE the min_count filter: p(ab) is over all adjacent
    # pairs, min_count only gates which pairs are reported
    tot = uni.agg(
        F.sum("n_w").alias("__nu__"),
    ).crossJoin(
        pairs.agg(F.sum("n_pair").alias("__nb__"))
    )
    pairs = pairs.filter(F.col("n_pair") >= min_count)
    # join unigram counts for both positions (aliased to avoid
    # case-insensitive collisions), then the one-row totals broadcast
    u1 = uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_w2"))
    j = pairs.join(u1, "w1").join(u2, "w2").join(F.broadcast(tot))
    pmi = F.log(
        (F.col("n_pair") / F.col("__nb__"))
        / (
            (F.col("n_w1") / F.col("__nu__"))
            * (F.col("n_w2") / F.col("__nu__"))
        )
    )
    return (
        j.select("w1", "w2", "n_pair", "n_w1", "n_w2", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(k)
    )


def readability(
    df: DataFrame,
    textcol: str = "text",
) -> DataFrame:
    """Flesch readability signals per document, appended as columns:
    ``n_words`` (whitespace tokens), ``n_sentences`` (runs of
    ``[.!?]``, floored at 1), ``n_syllables`` (per-token count of
    vowel runs ``[aeiouy]+``, floored at 1 per token — the standard
    dictionary-free heuristic), ``flesch_ease`` (206.835 - 1.015 w/s
    - 84.6 syl/w) and ``fk_grade`` (0.39 w/s + 11.8 syl/w - 15.59).
    Empty/whitespace-only documents get 0 counts and null scores.

    The classic prose-complexity prior for corpus quality scoring —
    too-low grade flags template/boilerplate pages, absurdly high
    flags OCR garbage and run-on extraction failures; both tails are
    what a pretraining mix wants bounded. English-centric by
    construction (vowel-run syllables), like every Flesch variant.

    Scale shape: pure column expressions — one regexp count for
    sentences, one ``transform``+``aggregate`` lambda over the token
    array for syllables, zero shuffles, zero Python; the identical
    arithmetic exists in any SQL engine (greedy regex runs count the
    same everywhere), so the whole frame stays oracle-checkable.
    """
    toks = _tokens(F.lower(F.col(textcol)))
    n_words = _token_count(F.col(textcol))
    n_sent = F.greatest(
        F.regexp_count(F.col(textcol), F.lit(r"[.!?]+")), F.lit(1)
    )
    syl = F.aggregate(
        F.transform(
            toks,
            lambda t: F.greatest(
                F.regexp_count(t, F.lit("[aeiouy]+")), F.lit(1)
            ),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    out = (
        df.withColumn("n_words", n_words)
        .withColumn(
            "n_sentences",
            F.when(F.col("n_words") > 0, n_sent).otherwise(F.lit(0)),
        )
        .withColumn(
            "n_syllables",
            F.when(F.col("n_words") > 0, syl).otherwise(F.lit(0)),
        )
    )
    w = F.col("n_words").cast("double")
    s = F.col("n_sentences").cast("double")
    y = F.col("n_syllables").cast("double")
    wps = w / s
    spw = y / w
    return out.withColumn(
        "flesch_ease",
        F.when(
            F.col("n_words") > 0,
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw,
        ),
    ).withColumn(
        "fk_grade",
        F.when(
            F.col("n_words") > 0,
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59),
        ),
    )


def feature_hashing(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    dim: int = 64,
) -> DataFrame:
    """Signed hashing-trick text features (Weinberger et al. 2009):
    every lowercased whitespace token hashes to a bucket
    ``h mod dim`` with sign ``+-1`` from the next hash bit, and the
    document's fixed-width feature vector is the per-bucket signed
    count — the vocabulary-free featurizer that needs no fitted
    dictionary, so it works identically on stream and batch and
    never shuffles a vocabulary. Output: ``(idcol, features)`` with
    ``features`` an ``array<double>`` of length ``dim`` (documents
    with no tokens get the zero vector).

    The hash is the engine-portable md5 base shared with
    ``extensions.sampling.hash_fraction`` (first 15 hex chars ->
    60-bit int -> low 31 bits), so any SQL engine reproduces the
    exact vectors — reproducibility across engines is the point of
    deterministic featurization.

    Scale shape: one explode over tokens, one (id, bucket) hash agg
    (map-side partial combine collapses repeated tokens early), one
    per-id pivot into the array via a dense map lookup — shuffle
    volume is O(distinct (doc, bucket)) <= dim per doc, never raw
    token volume. No Python, no fitted state, no driver round trip.
    """
    from pd_utils_spark.extensions.sampling import _hash31

    if dim < 1:
        raise ValueError(f"dim must be >= 1: {dim}")
    tok = F.explode(_tokens(F.lower(F.col(textcol)))).alias("__tok__")
    base = df.select(F.col(idcol), tok).filter(F.length("__tok__") > 0)
    h = _hash31(F.concat(F.col("__tok__"), F.lit(":fh")))
    bucket = (h % F.lit(dim)).alias("__b__")
    # next hash "bit" above the bucket: integer-exact on both engines
    # because (h - h % dim) is exactly divisible by dim
    sign = F.when(
        (((h - h % F.lit(dim)) / F.lit(dim)).cast("bigint") % 2) == 0,
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))
    cells = (
        base.select(F.col(idcol), bucket, sign.alias("__s__"))
        .groupBy(idcol, "__b__")
        .agg(F.sum("__s__").alias("__v__"))
    )
    vec = cells.groupBy(idcol).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("__b__"), F.col("__v__")))
        ).alias("__m__")
    )
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    features = F.transform(
        idx,
        lambda i: F.coalesce(
            F.element_at(F.col("__m__"), i.cast("bigint")), F.lit(0.0)
        ),
    )
    dense = vec.select(F.col(idcol), features.alias("features"))
    # documents with zero tokens still deserve a (zero) vector
    return (
        df.select(idcol)
        .join(dense, idcol, "left")
        .select(
            idcol,
            F.coalesce(
                "features",
                F.array(*[F.lit(0.0) for _ in range(dim)]),
            ).alias("features"),
        )
    )


def zipf_fit(
    df: DataFrame,
    textcol: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Zipf's-law fit of the corpus token frequency distribution: one
    row ``(n_tokens, n_types, slope, intercept, r2)`` from the OLS
    regression of ``ln(freq)`` on ``ln(rank)`` over every type with
    ``count >= min_count``. Natural language sits near slope -1;
    big deviations flag synthetic/templated corpora (too flat =
    boilerplate-heavy, too steep = tiny effective vocabulary) — a
    one-number corpus-health check next to ``vocabulary``'s raw
    counts and ``mix_diversity``'s source balance.

    Ranks are deterministic (count desc, token asc — ties never
    reshuffle across engines) and come from the distributed prefix
    scan (:func:`pd_utils_spark.plans.prefix.prefix_sum` over the
    per-type frame), never a single-task total-order window; the OLS
    reduces to one sufficient-statistics aggregate.

    Caches the input of its prefix scans
    (:func:`~pd_utils_spark.plans.prefix.prefix_agg`): call
    ``release_registered("prefix_agg")`` once the result is consumed.
    """
    from pd_utils_spark.plans.prefix import prefix_sum

    if min_count < 1:
        raise ValueError(f"min_count must be >= 1: {min_count}")
    toks = (
        df.select(
            F.explode(_tokens(F.lower(F.col(textcol)))).alias("__tok__")
        )
        .filter(F.length("__tok__") > 0)
    )
    types = toks.groupBy("__tok__").agg(F.count(F.lit(1)).alias("__c__"))
    types = types.filter(F.col("__c__") >= min_count)
    ranked = prefix_sum(
        types.withColumn("__negc__", -F.col("__c__")).withColumn(
            "__one__", F.lit(1)
        ),
        ["__negc__", "__tok__"],
        "__one__",
        inclusive=True,
    ).select(
        F.col("__c__"),
        F.col("__one___cum").cast("double").alias("__rank__"),
    )
    x = F.log("__rank__")
    y = F.log(F.col("__c__").cast("double"))
    agg = ranked.groupBy().agg(
        F.sum("__c__").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(x).alias("__sx__"),
        F.sum(y).alias("__sy__"),
        F.sum(x * x).alias("__sxx__"),
        F.sum(x * y).alias("__sxy__"),
        F.sum(y * y).alias("__syy__"),
    )
    n = F.col("n_types").cast("double")
    vxx = n * F.col("__sxx__") - F.col("__sx__") * F.col("__sx__")
    vyy = n * F.col("__syy__") - F.col("__sy__") * F.col("__sy__")
    vxy = n * F.col("__sxy__") - F.col("__sx__") * F.col("__sy__")
    slope = F.when(vxx > 0, vxy / vxx)
    intercept = (F.col("__sy__") - slope * F.col("__sx__")) / n
    r2 = F.when((vxx > 0) & (vyy > 0), vxy * vxy / (vxx * vyy))
    return agg.select(
        "n_tokens",
        "n_types",
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )
