"""Text-analysis operators for LLM training-data pipelines
(SURVEY §2.12): tokenization, quality scoring, language ID,
fingerprinting, shingling. All pure JVM-side built-in expressions —
no Python UDFs in the hot path — so they whole-stage-codegen and scale
linearly with the scan.

Ratio/score outputs follow the exact-arithmetic policy
(lakeflow.functions.exact): integer micro-units at the operator
boundary so distributed results hash-match a single-node oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakeflow.caching import persist
from lakeflow.functions.hashing import seeded_hash

# marker stopwords per language for the n-gram-free heuristic language ID
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "is", "and"],
    "de": ["der", "die", "und", "das", "ein"],
    "es": ["el", "los", "las", "y", "una"],
    "fr": ["le", "la", "les", "et", "une"],
    "zh": ["的", "是", "了"],
}
STOPWORDS = LANG_MARKERS["en"] + ["to", "in", "for", "on", "with"]


def tokens(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.split(F.trim(c), r"\s+")


def token_count(c: Column | str) -> Column:
    return F.size(tokens(c))


def _in_list(value: Column, words: list[str]) -> Column:
    return F.array_contains(F.array([F.lit(w) for w in words]), value)


def word_hits(c: Column | str, words: list[str]) -> Column:
    """Occurrence count (with repeats) of any listed word among tokens."""
    return F.size(F.filter(tokens(c), lambda t: _in_list(t, words)))


def non_alnum_ratio(c: Column | str) -> Column:
    """Share of characters outside [a-zA-Z0-9 ] — punctuation/noise proxy."""
    c = F.col(c) if isinstance(c, str) else c
    clean = F.regexp_replace(c, "[^a-zA-Z0-9 ]", "")
    return (F.length(c) - F.length(clean)) / F.greatest(F.length(c), F.lit(1)).cast(
        "double"
    )


def quality_score(c: Column | str) -> Column:
    """Heuristic document quality in [0,1]: length signal + cleanliness +
    stopword density (natural-language-ness). Deterministic double expr."""
    nt = token_count(c).cast("double")
    stop_ratio = word_hits(c, STOPWORDS).cast("double") / F.greatest(
        token_count(c), F.lit(1)
    ).cast("double")
    return (
        F.lit(0.4) * F.least(nt / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - non_alnum_ratio(c))
        + F.lit(0.3) * F.least(stop_ratio * F.lit(5.0), F.lit(1.0))
    )


def lang_scores(c: Column | str) -> dict[str, Column]:
    return {lang: word_hits(c, words) for lang, words in LANG_MARKERS.items()}


def lang_pred(scores: dict[str, Column]) -> Column:
    """Argmax with fixed priority order en>de>es>fr>zh on ties."""
    order = ["en", "de", "es", "fr", "zh"]
    expr = F.lit(order[-1])
    for i in range(len(order) - 2, -1, -1):
        lang = order[i]
        cond = None
        for other in order[i + 1 :]:
            c2 = scores[lang] >= scores[other]
            cond = c2 if cond is None else (cond & c2)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def normalized_fingerprint(c: Column | str) -> Column:
    """Rolling-noise-insensitive content fingerprint: lowercase, strip
    non-alphanumerics, collapse whitespace, md5 (SURVEY §2.12)."""
    c = F.col(c) if isinstance(c, str) else c
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(c), "[^a-z0-9 ]", " "), r"\s+", " "
        )
    )
    return F.md5(norm)


def shingles_from_tokens(toks: Column | str, n: int = 3) -> Column:
    """Array of word n-gram shingle strings from a PRE-SPLIT token array
    column (empty if fewer than n tokens). Keep the split in its own
    projection: inlining it here makes Catalyst re-evaluate the regex
    split once per element access — measured 10x slower at sf0.1."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    sz = F.size(toks)
    idx = F.when(sz >= n, F.sequence(F.lit(0), sz - n)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.get(toks, i + j) for j in range(n)]),
    )


def explode_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle) rows: tokenize in one projection, shingle+explode in
    the next."""
    pre = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    return pre.select(
        F.col(id_col), F.explode(shingles_from_tokens("__toks", n)).alias("s")
    )


# BPE-ish pre-tokenization classes (GPT-2-style split minus lookaheads,
# which RE2-based oracle engines lack): letter runs, digit runs,
# non-alphanumeric-non-space runs. ASCII classes on both engines.
BPE_WORD_RE = "[A-Za-z]+"
BPE_NUM_RE = "[0-9]+"
BPE_PUNCT_RE = r"[^A-Za-z0-9\s]+"


def bpe_ish_token_counts(c: Column | str) -> dict[str, Column]:
    """Per-class token counts under a BPE-style pre-tokenizer — the
    cheap JVM-side proxy for 'how many subword tokens will this doc
    cost' (letter runs then split into ~1.3 subwords each; the class
    mix is the useful scan-time signal)."""
    c = F.col(c) if isinstance(c, str) else c
    return {
        "word": F.size(F.regexp_extract_all(c, F.lit(BPE_WORD_RE), 0)),
        "num": F.size(F.regexp_extract_all(c, F.lit(BPE_NUM_RE), 0)),
        "punct": F.size(F.regexp_extract_all(c, F.lit(BPE_PUNCT_RE), 0)),
    }


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    hash every token k-gram (rolling the document), take the min hash
    of each sliding window of ``w`` consecutive k-gram hashes, keep the
    distinct selected hashes — a position-robust fingerprint set whose
    size is ~1/w of the shingle count. Docs with fewer than ``k``
    tokens produce no shingles and are excluded.

    Formulation is the explode + hash-agg shape (NOT array transforms
    over a hash array: lambda-inlined array exprs re-evaluate the md5
    transform per element — the measured-60x-slower trap): posexplode
    shingles, one window for n per-doc shingle counts, explode each
    hash into the <= w windows containing it, min per (doc, window),
    collect per doc. Shuffle keys are (id, window), never text.
    Returns (id_col, n_fingerprints, fp_digest)."""
    from pyspark.sql import Window as W

    pre = df.select(F.col(id_col), tokens(text_col).alias("__t"))
    sh = pre.select(
        F.col(id_col),
        F.posexplode(shingles_from_tokens("__t", k)).alias("p", "s"),
    )
    h = sh.select(
        F.col(id_col), "p", seeded_hash(F.col("s"), "wn").alias("h")
    ).withColumn("n", F.max("p").over(W.partitionBy(id_col)) + 1)
    bound = F.when(F.col("n") >= w, F.col("n") - w + 1).otherwise(
        F.least(F.col("n"), F.lit(1))
    )
    ex = (
        h.select(
            F.col(id_col),
            "h",
            "n",
            "p",
            F.explode(F.sequence(F.lit(0), F.lit(w - 1))).alias("j"),
        )
        .withColumn("wid", F.col("p") - F.col("j"))
        .filter((F.col("wid") >= 0) & (F.col("wid") < bound))
    )
    wm = ex.groupBy(id_col, "wid").agg(F.min("h").alias("mh"))
    fps = wm.groupBy(id_col).agg(
        F.sort_array(F.collect_set("mh")).alias("__fps")
    )
    return fps.select(
        F.col(id_col),
        F.size("__fps").cast("long").alias("n_fingerprints"),
        F.md5(
            F.concat_ws(",", F.transform("__fps", lambda x: x.cast("string")))
        ).alias("fp_digest"),
    )


def repetition_profile(
    df: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """Gopher/C4-style within-document repetition metrics over word
    n-grams: total shingles, distinct shingles, duplicate-shingle
    fraction (1 - distinct/total) and top-shingle fraction (count of
    the most frequent shingle / total), both in exact integer micros.
    High values flag boilerplate/listing/spam documents for the quality
    filter. Docs with fewer than ``n`` tokens emit no shingles and are
    excluded (nothing to measure).

    Shape: explode + two hash-aggs keyed on (id, shingle) then (id) —
    map-side partial aggregation does most of the work; the shuffle
    carries (id, shingle-count) rows, never document bodies."""
    sh = explode_shingles(df, id_col, text_col, n)
    per = sh.groupBy(id_col, "s").agg(F.count(F.lit(1)).alias("c"))
    agg = per.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_shingles"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.max("c").cast("long").alias("top_count"),
    )
    total = F.col("n_shingles").cast("double")
    return agg.select(
        F.col(id_col),
        "n_shingles",
        "n_distinct",
        F.floor(
            (F.lit(1.0) - F.col("n_distinct") / total) * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("dup_fraction_micros"),
        F.floor(F.col("top_count") / total * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("top_fraction_micros"),
    )


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash per document over distinct tokens: per-bit +/-1
    votes from a seeded token hash, sign-aggregated. One explode + one
    hash-agg; no UDFs. Returns (id_col, simhash)."""
    ex = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("tok")
    )
    h = seeded_hash(F.col("tok"), "sim")
    votes = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(16)
    ]
    agg = ex.groupBy(id_col).agg(*votes)
    sim = None
    for j in range(16):
        bit = F.when(F.col(f"b{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = bit if sim is None else (sim + bit)
    return agg.select(F.col(id_col), sim.cast("long").alias("simhash"))


def clean_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 3,
    banned_substrings: tuple[str, ...] = ("lorem ipsum", "{"),
) -> DataFrame:
    """C4-style line-level cleaning: split a document on newlines, keep
    only lines that (a) end in terminal punctuation (. ! ? " '), (b)
    have at least ``min_words`` whitespace words, and (c) contain none
    of the banned substrings (case-insensitive) — the boilerplate/menu/
    code-fragment filter every web-corpus pipeline runs before training.

    Returns (id, clean_text, n_lines_total, n_lines_kept). 100 TB
    shape: the whole transform is higher-order ARRAY functions
    (split -> filter -> array_join) inside one projection — a narrow,
    whole-stage-codegen'd map at the scan with no explode, no shuffle,
    and no Python. Rules are pure string predicates any engine
    reproduces (DuckDB oracle: list_filter over string_split)."""

    def keep(ln: Column) -> Column:
        t = F.trim(ln)
        cond = t.rlike('[.!?"\']$') & (
            F.size(F.split(t, r"\s+")) >= F.lit(min_words)
        )
        low = F.lower(t)
        for b in banned_substrings:
            cond = cond & ~low.contains(b.lower())
        return cond

    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(lines, keep)
    return df.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("clean_text"),
        F.size(lines).cast("long").alias("n_lines_total"),
        F.size(kept).cast("long").alias("n_lines_kept"),
    )


def repeated_span_starts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """(id, pos) rows: 0-based token positions starting an ``n``-token
    span whose CONTENT occurs at least ``min_count`` times across the
    whole corpus (intra-doc repeats count — Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", the
    ExactSubstr criterion at fixed span length).

    Spark shape: tokenize once, posexplode the n-gram array, hash each
    gram to a 60-bit seeded integer (the shuffle key is a long, never
    the text), ONE hash-aggregate with map-side combine counts
    occurrences, and a left-semi join marks the duplicated starts. The
    suffix-array construction the paper uses is a single-machine
    algorithm; fixed-n gram counting is its scalable streaming-friendly
    approximation (spans longer than n are caught as runs of
    overlapping duplicated n-grams, which the excision below merges)."""
    pre = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    grams = pre.select(
        F.col(id_col),
        F.posexplode(shingles_from_tokens("__toks", n)).alias("pos", "g"),
    )
    # the hashed gram relation feeds BOTH the duplicate-count aggregate
    # and the probe side of the semi join — persist it so the tokenize
    # + n-gram explode runs once, not twice (the same multi-consumer
    # pattern as the corpus-profile token explode)
    hashed = persist(
        grams.select(
            F.col(id_col), "pos", seeded_hash(F.col("g"), "span").alias("h")
        )
    )
    dup = (
        hashed.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )
    return hashed.join(dup.select("h"), "h", "left_semi").select(id_col, "pos")


def excise_repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Remove every corpus-repeated ``n``-token span from each document
    (overlapping spans merge naturally: a token survives only if NO
    duplicated span covers it). Returns
    (id, n_tokens, n_dup_starts, n_excised, clean_text).

    100 TB shape: the only shuffles are the gram-count aggregate and
    the per-doc collect of duplicated starts (both keyed by long
    hashes / ids); the excision itself is a narrow higher-order-array
    projection — token index i survives iff no start p in the doc's
    span list satisfies p <= i < p+n. Per-row cost is
    O(tokens x spans); span lists are usually tiny (they only contain
    CORPUS-DUPLICATED material). Exact-integer + md5 arithmetic keeps
    it SQL-oracle-reproducible."""
    spans = repeated_span_starts(df, id_col, text_col, n, min_count)
    per_doc = spans.groupBy(id_col).agg(
        F.array_sort(F.collect_list("pos")).alias("__ps")
    )
    base = df.select(F.col(id_col), tokens(text_col).alias("__toks")).join(
        per_doc, id_col, "left"
    )
    ps = F.coalesce(F.col("__ps"), F.array().cast("array<int>"))
    toks = F.col("__toks")
    # guard the empty-array case: sequence(0, -1) yields the DESCENDING
    # [0, -1] (Spark infers step -1), which would fabricate phantom
    # indices and a negative n_excised (same guard as
    # shingles_from_tokens)
    idx = F.when(
        F.size(toks) > 0, F.sequence(F.lit(0), F.size(toks) - 1)
    ).otherwise(F.array().cast("array<int>"))
    kept_idx = F.filter(
        idx,
        lambda i: ~F.exists(ps, lambda p: (p <= i) & (i < p + F.lit(n))),
    )
    clean = F.concat_ws(" ", F.transform(kept_idx, lambda i: F.get(toks, i)))
    return base.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(ps).cast("long").alias("n_dup_starts"),
        (F.size(toks) - F.size(kept_idx)).cast("long").alias("n_excised"),
        clean.alias("clean_text"),
    )


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    pos_base: int = 100_000,
) -> DataFrame:
    """Corpus-global paragraph-level dedup (the Dolma/FineWeb pass
    between document dedup and span excision): split each document on
    ``sep``, and for every paragraph whose trimmed content occurs more
    than once ACROSS THE CORPUS, keep only the FIRST occurrence —
    "first" by (doc_id, position), a deterministic total order any
    engine agrees on. Blank paragraphs never dedup (layout is
    preserved). Returns (id, n_paragraphs, n_dropped, clean_text).

    Spark shape: posexplode paragraphs, hash trimmed content to a
    60-bit seeded key, ONE hash-aggregate takes min(doc*base+pos) per
    hash (map-side combined), an equi-join marks winners, and the
    survivors reassemble per doc via sort_array(collect_list(struct)) —
    grouping is by doc id (high cardinality), text rides only the
    explode and the final per-doc collect, never a corpus-wide
    sort. ``pos_base`` bounds paragraphs per doc (composite-key
    encoding)."""
    from lakeflow.functions.hashing import seeded_hash

    ex = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    )
    key = (F.col(id_col) * F.lit(pos_base) + F.col("pos")).cast("long")
    norm = F.trim(F.col("para"))
    hashed = ex.select(
        F.col(id_col), "pos", "para", key.alias("__k"),
        F.when(norm != "", seeded_hash(norm, "para")).alias("__h"),
    )
    winners = (
        hashed.filter(F.col("__h").isNotNull())
        .groupBy("__h")
        .agg(F.min("__k").alias("__w"))
    )
    marked = hashed.join(winners, "__h", "left").withColumn(
        "__keep", F.col("__h").isNull() | (F.col("__k") == F.col("__w"))
    )
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_paragraphs"),
        F.sum((~F.col("__keep")).cast("long")).alias("n_dropped"),
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__keep"), F.struct(F.col("pos"), F.col("para"))
                        )
                    )
                ),
                lambda s: s.getField("para"),
            ),
        ).alias("clean_text"),
    )


#: the 8 "common English words" of the Gopher quality filter
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len_micros: int = 3_000_000,
    max_mean_word_len_micros: int = 10_000_000,
    max_bullet_micros: int = 900_000,
    max_ellipsis_micros: int = 300_000,
    min_alpha_micros: int = 800_000,
    min_stop_hits: int = 2,
) -> DataFrame:
    """The Gopher quality-rule scorecard (Rae et al. 2021, appendix A —
    the filter pack every subsequent pretraining pipeline reuses):
    per-document signals plus a pass/fail verdict under the paper's
    default thresholds. Rules here: word count in [50, 100k], mean
    word length in [3, 10] chars, ≤90% of lines starting with a
    bullet, ≤30% ending in an ellipsis, ≥80% of words containing an
    alphabetic character, and at least 2 distinct "common English
    words" present. Returns (id, n_words, mean_word_len_micros,
    bullet_micros, ellipsis_micros, alpha_micros, stop_distinct,
    passes_gopher).

    100 TB shape: every signal is higher-order array functions over ONE
    projection of the scan — no explode, no shuffle, no Python; exact
    micro-int fractions reproduce in any engine."""
    toks = tokens(text_col)
    n_words = F.size(toks)
    sum_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    n_bullet = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike(r"^[-*•]"))
    )
    n_ellipsis = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike(r"(\.\.\.|…)$"))
    )
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    stop_distinct = F.size(
        F.array_intersect(
            F.transform(toks, F.lower),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    )

    from lakeflow.functions.exact import micros

    def frac(n, d):
        return micros(n / F.greatest(d, F.lit(1)).cast("double"))

    mean_len = frac(sum_len, n_words)
    bullet = frac(n_bullet, n_lines)
    ellipsis = frac(n_ellipsis, n_lines)
    alpha = frac(n_alpha, n_words)
    passes = (
        n_words.between(min_words, max_words)
        & mean_len.between(min_mean_word_len_micros, max_mean_word_len_micros)
        & (bullet <= max_bullet_micros)
        & (ellipsis <= max_ellipsis_micros)
        & (alpha >= min_alpha_micros)
        & (stop_distinct >= min_stop_hits)
    )
    return df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        mean_len.alias("mean_word_len_micros"),
        bullet.alias("bullet_micros"),
        ellipsis.alias("ellipsis_micros"),
        alpha.alias("alpha_micros"),
        stop_distinct.cast("long").alias("stop_distinct"),
        passes.alias("passes_gopher"),
    )
