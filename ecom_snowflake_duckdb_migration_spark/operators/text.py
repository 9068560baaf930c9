"""Text-analysis and deduplication operators for LLM training-data pipelines.

These extend the reference's capability surface (BASELINE.json north-star):
exact + near dedup, language ID, quality scoring, token statistics, document
fingerprinting — all over a ``documents(doc_id, text, ...)`` table.

Design rules for 100 TB scale:
- Everything is built-in Catalyst expressions (regexp/hash/array functions) —
  no Python UDFs, so whole-stage codegen and column pruning hold.
- Ratios are computed in integer domain (``x * 1_000_000 div y``) where they
  feed correctness gates: integer division is bit-stable across engines while
  rounded double division is not.
- Near-dup joins go through bounded candidate generation (shingle join with
  distinct shingles, MinHash-LSH bands) — never an unbounded cross join.

One form per text expression: the operators take column NAMES and pass
each through ``quote_ident`` where it enters SQL text. Every fragment that
more than one operator needs is SQL text built once by a ``_*_sql``
builder, which takes SQL text and quotes nothing: the word split
(``_words_sql``, with the lowercase, NULL-as-'' and Gopher/C4
full-whitespace-trim variants), word n-grams and tiles
(``_word_ngrams_sql``, ``_word_tiles_sql``), character k-grams
(``_char_kgrams_sql``) and the split bound once per row (``_let_sql``).
The 60-bit md5 hash is ``sketches.h60``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..functions.core import quote_ident
from .sketches import h60

SCALE = 1_000_000  # fixed-point scale for engine-stable ratios

# Tiny per-language stopword probes for the n-gram/stopword language ID
# heuristic. Word-boundary regexes keep Spark (Java regex) and DuckDB (RE2)
# semantics aligned — both support \b and simple alternations identically.
LANG_STOPWORDS = {
    "en": r"\b(the|and|of|to|in|is|that|for|with)\b",
    "fr": r"\b(le|la|les|et|des|une|dans|pour|est)\b",
    "de": r"\b(der|die|das|und|ist|von|mit|ein|zu)\b",
    "es": r"\b(el|los|las|y|de|que|en|un|una|por)\b",
}


# ---------------------------------------------------------------------------
# SQL builders: one per text fragment that more than one operator needs.
# ---------------------------------------------------------------------------


def _words_sql(
    t: str, lower: bool = False, null_empty: bool = False, ws_trim: bool = False
) -> str:
    """The whitespace word split of ``t``: trim spaces, split on ``\\s+``,
    so an empty text is one empty word. ``lower`` lowercases the trimmed
    text; ``null_empty`` reads NULL as ''; ``ws_trim`` is the Gopher/C4
    form — a full-whitespace trim (``trim`` strips spaces only, so a
    trailing newline would fabricate an empty word), and an empty or
    all-whitespace text is zero words."""
    if null_empty:
        t = f"coalesce({t}, '')"
    if ws_trim:
        t = f"regexp_replace(regexp_replace({t}, '^\\\\s+', ''), '\\\\s+$', '')"
    else:
        t = f"trim({t})"
    if lower:
        t = f"lower({t})"
    words = f"split({t}, '\\\\s+')"
    if ws_trim:
        return f"CASE WHEN {t} = '' THEN CAST(array() AS ARRAY<STRING>) ELSE {words} END"
    return words


def _let_sql(value: str, body: str) -> str:
    """``body`` with the lambda variable ``ws`` bound to ``value``, which is
    evaluated once per row. A split that a lambda references (as in
    ``slice(split(...), i, n)``) is otherwise re-evaluated per reference
    after projection collapse: measured at 5x the tokenize cost on the
    hashed features."""
    return f"get(transform(array({value}), ws -> {body}), 0)"


def _word_ngrams_sql(ws: str, n: int) -> str:
    """Overlapping word ``n``-grams of the word array ``ws`` (a column or a
    bound ``ws``), space-joined, with multiplicity. Fewer than ``n`` words
    give none: the size gate guards Spark's ``sequence(1, 0)``, which steps
    DESCENDING to ``[1, 0]``."""
    return (
        f"CASE WHEN size({ws}) >= {n} THEN transform(sequence(1, size({ws}) - {n - 1}),"
        f" i -> concat_ws(' ', slice({ws}, i, {n}))) ELSE array() END"
    )


def _word_tiles_sql(ws: str, n: int) -> str:
    """Consecutive ``n``-word tiles of the word array ``ws``, space-joined;
    the last tile may be partial."""
    return (
        f"transform(sequence(0, (size({ws}) - 1) div {n}),"
        f" i -> array_join(slice({ws}, i * {n} + 1, {n}), ' '))"
    )


def _char_kgrams_sql(t: str, k: int, distinct: bool = False) -> str:
    """Character ``k``-grams of ``t`` in position order (``distinct``: each
    once, the shingle set). Texts shorter than ``k`` give none — an explicit
    length gate, because ``sequence(1, 0)`` in Spark steps DESCENDING to
    ``[1, 0]`` (DuckDB's ``range`` is empty there): ungated, every
    sub-k-length document emitted a phantom ``''`` shingle, making any two
    short docs Jaccard-1 duplicates and silently diverging from the oracle.
    Found by the hypothesis ground-truth pin, not the corpus oracles — the
    test corpus carries no short documents."""
    grams = f"transform(sequence(1, length({t}) - {k - 1}), i -> substring({t}, i, {k}))"
    if distinct:
        grams = f"array_distinct({grams})"
    return f"CASE WHEN length({t}) >= {k} THEN {grams} ELSE array() END"


def _qualified(alias: str, name: str) -> Column:
    """Column ``name`` of the self-join side ``alias``."""
    return F.col(f"{alias}.{quote_ident(name)}")


def normalized_text(c: str) -> Column:
    """Lowercase, collapse runs of whitespace, trim — canonical form used by
    fingerprinting and exact dedup."""
    return F.trim(F.regexp_replace(F.lower(F.col(c)), r"\s+", " "))


def fingerprint(c: str) -> Column:
    """Deterministic 128-bit content fingerprint of the normalized text."""
    return F.md5(normalized_text(c))


def token_count(c: str) -> Column:
    """Whitespace token count of the trimmed text."""
    return F.size(F.expr(_words_sql(quote_ident(c))))


def quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality metrics, fixed-point where ratios are involved.

    Columns added: n_chars_calc, n_tokens, alpha_ratio_e6, punct_count,
    mean_token_len_e6, stopword_count_en, quality_ok.
    """
    q = quote_ident(text_col)
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count(text_col)
    alpha_chars = F.length(F.regexp_replace(t, r"[^a-zA-Z]", ""))
    punct_count = F.length(F.regexp_replace(t, r"[a-zA-Z0-9\s]", ""))
    stop_en = F.size(F.regexp_extract_all(F.lower(t), F.lit(LANG_STOPWORDS["en"]), F.lit(0)))
    return (
        df.withColumn("n_chars_calc", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn(
            "alpha_ratio_e6",
            F.expr(
                f"CAST(length(regexp_replace({q}, '[^a-zA-Z]', '')) AS BIGINT)"
                f" * {SCALE} div length({q})"
            ),
        )
        .withColumn("punct_count", punct_count)
        .withColumn(
            "mean_token_len_e6",
            F.expr(f"CAST(length({q}) AS BIGINT) * {SCALE} div size({_words_sql(q)})"),
        )
        .withColumn("stopword_count_en", stop_en)
        .withColumn(
            "quality_ok",
            (n_chars >= 20) & (n_tokens >= 5) & (alpha_chars * 2 > n_chars),
        )
    )


def language_scores(text: Column) -> dict[str, Column]:
    low = F.lower(text)
    return {
        lang: F.size(F.regexp_extract_all(low, F.lit(pat), F.lit(0)))
        for lang, pat in LANG_STOPWORDS.items()
    }


def predict_language(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-count language ID with a non-ASCII-ratio guard for CJK.

    Deterministic argmax with fixed tie order en > fr > de > es; documents
    with a high non-ASCII ratio are labeled 'cjk', no stopword evidence
    at all -> 'und'.
    """
    t = F.col(text_col)
    scores = language_scores(t)
    non_ascii = F.length(F.regexp_replace(t, r"[\x00-\x7F]", ""))
    best = F.greatest(*scores.values())
    pred = (
        F.when(non_ascii * 4 > F.length(t), F.lit("cjk"))
        .when(best == 0, F.lit("und"))
        .when(scores["en"] == best, F.lit("en"))
        .when(scores["fr"] == best, F.lit("fr"))
        .when(scores["de"] == best, F.lit("de"))
        .otherwise(F.lit("es"))
    )
    out = df
    for lang, score in scores.items():
        out = out.withColumn(f"score_{lang}", score)
    return out.withColumn("predicted_lang", pred)


def gopher_repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition signals (Rae et al. 2021 "Gopher" A1.1,
    the MassiveText repetition filters), word-n-gram variant: the corpus
    has no line structure, so the line-level rules are expressed on word
    n-grams — the fraction of repeated n-grams and the character mass of
    the single most frequent 2-gram, the signals that catch boilerplate
    and degenerate repetition ahead of pretraining.

    Returns ``(id_col, n_words, dup_2gram_frac_e6, dup_5gram_frac_e6,
    top_2gram_char_frac_e6)``:

    - ``dup_Ngram_frac_e6`` = (n_ngrams - distinct_ngrams) * 1e6 div
      n_ngrams (0 when the doc has no such n-gram) — integer-exact, the
      threshold feed for a Gopher-style drop rule;
    - ``top_2gram_char_frac_e6`` = count(g*) * length(g*) * 1e6 div
      length(text) where g* is the most frequent 2-gram (ties: the
      lexicographically smallest — deterministic cross-engine).

    Scale shape: one explode of tagged 2-/5-grams, one (doc, n, gram)
    count, one (doc, n) fold — two hash exchanges on the doc key, all
    partials map-side-combinable; the argmax rides min(struct(-cnt, g)),
    never a window. NULL/empty texts produce zero-grams rows (fractions
    0) so the output has exactly one row per input document. Words are
    whitespace-delimited tokens after a FULL whitespace trim (regexp,
    not trim() — trim strips spaces only, so a trailing newline would
    fabricate an empty token).
    """
    base = df.select(
        F.col(id_col),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).alias("_tlen"),
        F.expr(_words_sql(quote_ident(text_col), null_empty=True, ws_trim=True)).alias("_ws"),
    )
    grams = None
    for n in (2, 5):
        g = base.select(
            id_col,
            "_tlen",
            F.lit(n).alias("_n"),
            F.explode(F.expr(_word_ngrams_sql("_ws", n))).alias("g"),
        )
        grams = g if grams is None else grams.unionByName(g)
    counted = grams.groupBy(id_col, "_n", "g").agg(
        F.any_value("_tlen").alias("_tlen"),
        F.count(F.lit(1)).alias("cnt"),
    )
    per_n = counted.groupBy(id_col, "_n").agg(
        F.any_value("_tlen").alias("_tlen"),
        F.count(F.lit(1)).alias("distinct_g"),
        F.sum("cnt").alias("total_g"),
        F.min(F.struct((-F.col("cnt")).alias("negcnt"), F.col("g"))).alias("_top"),
    )
    stats = per_n.select(
        id_col,
        "_n",
        # integer div keeps the fractions bit-stable cross-engine
        F.expr(
            f"CAST((total_g - distinct_g) * {SCALE} div total_g AS BIGINT)"
        ).alias("dup_frac_e6"),
        F.when(
            (F.col("_n") == 2) & (F.col("_tlen") > 0),
            F.expr(
                f"CAST(CAST(-_top.negcnt AS BIGINT) * length(_top.g)"
                f" * {SCALE} div _tlen AS BIGINT)"
            ),
        ).otherwise(F.lit(0)).cast("long").alias("top_char_frac_e6"),
    )
    pivoted = stats.groupBy(id_col).agg(
        F.sum(F.when(F.col("_n") == 2, F.col("dup_frac_e6"))).alias("d2"),
        F.sum(F.when(F.col("_n") == 5, F.col("dup_frac_e6"))).alias("d5"),
        F.sum(F.when(F.col("_n") == 2, F.col("top_char_frac_e6"))).alias("t2"),
    )
    return (
        base.select(id_col, F.size("_ws").cast("long").alias("n_words"))
        .join(pivoted, id_col, "left")
        .select(
            id_col,
            "n_words",
            F.coalesce("d2", F.lit(0)).cast("long").alias("dup_2gram_frac_e6"),
            F.coalesce("d5", F.lit(0)).cast("long").alias("dup_5gram_frac_e6"),
            F.coalesce("t2", F.lit(0)).cast("long").alias("top_2gram_char_frac_e6"),
        )
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The REST of Gopher A1.1 (Rae et al. 2021, MassiveText quality
    filters) — the per-row signals x112's repetition stats don't cover,
    emitted as one row per document with the combined pass verdict:

    - ``n_words`` (whitespace tokens) — rule: 50..100,000;
    - ``mean_word_len_e6`` — rule: 3..10 chars;
    - ``symbol_word_ratio_e6`` — '#' chars + non-overlapping '...'/'…'
      runs per word — rule: <= 0.1;
    - ``bullet_line_frac_e6`` — lines whose first non-space char is a
      bullet ('•', '-', '*') — rule: <= 0.10 (the paper's "90% of lines
      must not start with a bullet");
    - ``ellipsis_line_frac_e6`` — lines ending in '...'/'…' after
      right-trim — rule: <= 0.30;
    - ``alpha_word_frac_e6`` — words containing at least one [A-Za-z]
      — rule: >= 0.80;
    - ``n_required_stopwords`` — distinct members of the paper's 8-word
      list (the, be, to, of, and, that, have, with) present as
      lowercased tokens — rule: >= 2;
    - ``passes_gopher`` — AND of all seven rules.

    Every signal is a per-row Catalyst expression (zero shuffle; the
    whole frame pipelines inside one codegen stage) and every fraction
    rides e6 integer division, so the row is bit-identical cross-engine.
    Feed ``passes_gopher`` into ``curate()``'s quality gate to apply the
    full MassiveText rule set ahead of dedup.

    Built as ONE parsed-SQL projection (round-11, same py4j economics
    as the round-10 SQL twins: the Column-API build of this tree
    measured ~530 ms of driver time per invocation, the parsed form
    ~1 ms; trees are node-identical, pinned by the pure-Python
    reference parity test and the catalog oracle).
    """
    t = f"coalesce({quote_ident(text_col)}, '')"
    words = _words_sql(t, ws_trim=True)
    lines = f"split({t}, '\\n')"  # '' -> [''], matching DuckDB string_split
    n_words = f"CAST(size({words}) AS BIGINT)"
    n_lines = f"CAST(size({lines}) AS BIGINT)"
    sum_wlen = f"aggregate({words}, CAST(0 AS BIGINT), (acc, w_) -> acc + length(w_))"
    n_hash = f"CAST(length({t}) - length(replace({t}, '#', '')) AS BIGINT)"
    n_ellipsis = f"CAST(size(regexp_extract_all({t}, '\\\\.\\\\.\\\\.|…', 0)) AS BIGINT)"
    bullets = (
        f"CAST(size(filter({lines},"
        f" ln -> substring(ltrim(ln), 1, 1) IN ('•', '-', '*'))) AS BIGINT)"
    )
    ell_lines = (
        f"CAST(size(filter({lines},"
        f" ln -> endswith(rtrim(ln), '...') OR endswith(rtrim(ln), '…'))) AS BIGINT)"
    )
    alpha_words = f"CAST(size(filter({words}, w_ -> w_ RLIKE '[A-Za-z]')) AS BIGINT)"
    low_words = f"transform({words}, w_ -> lower(w_))"
    n_stops = "CAST(0 AS BIGINT)"
    for sw in GOPHER_STOPWORDS:
        n_stops = f"({n_stops} + CAST(array_contains({low_words}, '{sw}') AS BIGINT))"

    def frac(num: str, den: str) -> str:
        # e6 integer division; (a - a % b) / b is exact (a divisible by b)
        scaled = f"({num} * {SCALE})"
        return (
            f"CAST(CASE WHEN {den} > 0 THEN ({scaled} - {scaled} % {den}) / {den}"
            f" ELSE 0 END AS BIGINT)"
        )

    out = df.selectExpr(
        quote_ident(id_col),
        f"{n_words} AS n_words",
        f"{frac(sum_wlen, n_words)} AS mean_word_len_e6",
        f"{frac(f'({n_hash} + {n_ellipsis})', n_words)} AS symbol_word_ratio_e6",
        f"{frac(bullets, n_lines)} AS bullet_line_frac_e6",
        f"{frac(ell_lines, n_lines)} AS ellipsis_line_frac_e6",
        f"{frac(alpha_words, n_words)} AS alpha_word_frac_e6",
        f"{n_stops} AS n_required_stopwords",
    )
    passes = (
        F.col("n_words").between(50, 100_000)
        & F.col("mean_word_len_e6").between(3 * SCALE, 10 * SCALE)
        & (F.col("symbol_word_ratio_e6") <= SCALE // 10)
        & (F.col("bullet_line_frac_e6") <= SCALE // 10)
        & (F.col("ellipsis_line_frac_e6") <= 3 * SCALE // 10)
        & (F.col("alpha_word_frac_e6") >= 8 * SCALE // 10)
        & (F.col("n_required_stopwords") >= 2)
    )
    return out.withColumn("passes_gopher", passes)


def c4_line_filters(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """C4 preprocessing (Raffel et al. 2020 §2.2, the other canonical
    corpus filter next to Gopher A1.1): LINE rules keep only lines that
    end in terminal punctuation ('.', '!', '?', '\"' after right-trim),
    contain at least 5 whitespace words, and do not mention
    'javascript' (case-insensitive); PAGE rules then require >= 3
    sentences in the kept text (terminal-punctuation count) and drop
    pages containing 'lorem ipsum' or a '{' anywhere in the ORIGINAL
    text (the code-leak heuristic).

    Returns one row per document: ``(id_col, n_lines, n_kept_lines,
    kept_chars, n_sentences, has_lorem_ipsum, has_brace, passes_c4,
    kept_text)`` — ``kept_text`` is the newline-rejoin of surviving
    lines, the frame the tokenizer/packing stages consume downstream.

    Every rule is a per-row Catalyst expression (line split + array
    filter HOFs; zero shuffle, one codegen stage over the scan), and the
    counts are plain integers, so the row is bit-identical cross-engine.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    lines = f"split(coalesce({quote_ident(text_col)}, ''), '\\n')"
    terminal = " OR ".join(f"endswith(rtrim(ln), '{c}')" for c in '.!?"')
    kept = F.expr(
        f"filter({lines}, ln -> ({terminal})"
        f" AND size({_words_sql('ln', ws_trim=True)}) >= 5"
        " AND NOT contains(lower(ln), 'javascript'))"
    )
    kept_text = F.array_join(kept, "\n")

    def count_char(src: Column, ch: str) -> Column:
        return F.length(src) - F.length(F.replace(src, F.lit(ch), F.lit("")))

    out = df.select(
        F.col(id_col),
        F.size(F.expr(lines)).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        F.length(kept_text).cast("long").alias("kept_chars"),
        (
            count_char(kept_text, ".")
            + count_char(kept_text, "!")
            + count_char(kept_text, "?")
        ).cast("long").alias("n_sentences"),
        F.contains(F.lower(t), F.lit("lorem ipsum")).alias("has_lorem_ipsum"),
        F.contains(t, F.lit("{")).alias("has_brace"),
        kept_text.alias("kept_text"),
    )
    passes = (
        (F.col("n_sentences") >= 3)
        & ~F.col("has_lorem_ipsum")
        & ~F.col("has_brace")
    )
    return out.withColumn("passes_c4", passes).select(
        id_col, "n_lines", "n_kept_lines", "kept_chars", "n_sentences",
        "has_lorem_ipsum", "has_brace", "passes_c4", "kept_text",
    )


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: hash-groupBy on content; lowest id is canonical.

    One shuffle on a 128-bit hash — uniform keys, no skew at any scale.
    """
    return df.groupBy(F.md5(F.col(text_col)).alias("text_hash")).agg(
        F.min(id_col).alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def _shingle_array(text_col: str, k: int) -> Column:
    """The document's DISTINCT character k-shingles as an array — the
    scan-side building block shared by the exploded (``char_shingles``) and
    array-at-rest (``char_shingle_sets``, ``minhash_signatures``) forms."""
    return F.expr(_char_kgrams_sql(quote_ident(text_col), k, distinct=True))


def char_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Distinct character k-shingles per document: (id, shingle), exploded.

    Built with transform(sequence(...)) — pure Catalyst, no UDF. The explode
    multiplies rows by ~doc length; operators that only need per-document
    shingle SETS or folds over them should use ``char_shingle_sets`` /
    ``minhash_signatures`` instead, which keep the array at rest in the row
    and never generate the exploded form.
    """
    return df.select(
        F.col(id_col), F.explode(_shingle_array(text_col, k)).alias("shingle")
    )


def char_shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Per-document shingle set as ONE array row: (id, ss array<bigint>).

    ``ss`` holds the xxhash64 of each distinct k-shingle — the exact frame
    ``jaccard_verify_pairs`` previously rebuilt with explode →
    xxhash64 → collect_set, now computed entirely scan-side
    (array_distinct(transform(...))): no row explosion, no
    ObjectHashAggregate, no shuffle. At sf64 geometry (3.2M docs × ~300
    chars) the explode+collect_set shape pushed ~1e9 16-byte rows through
    an object aggregate; this form reads and emits one row per document.
    Documents with no shingles (length < k, NULL text) emit no row,
    matching the grouped form's explode-drop semantics.
    """
    # the empty-set gate is the scan-cheap length predicate, NOT
    # size(_shingles) > 0: pushing a size() filter below the projection
    # would re-derive the whole array expression just to count it, while
    # length(text) >= k is exactly equivalent (a text of length >= k
    # always yields >= 1 distinct shingle; NULL text fails the compare)
    arr = _shingle_array(text_col, k)
    return (
        df.filter(F.length(text_col) >= k)
        .select(F.col(id_col), arr.alias("_shingles"))
        .select(
            id_col,
            F.array_distinct(
                F.transform(F.col("_shingles"), lambda s: F.xxhash64(s))
            ).alias("ss"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold_e6: int = 800_000,
    hash_shingles: bool = True,
) -> DataFrame:
    """All pairs with shingle-Jaccard >= threshold, computed relationally:
    shingle self-join -> intersection counts -> |A∪B| = |A|+|B|-|A∩B|.

    Jaccard is returned fixed-point (``jaccard_e6``) for engine-stable
    comparisons. The shingle join only produces candidate pairs that share
    at least one shingle — far smaller than a cross join; at 100 TB the raw
    shingle join should be replaced by minhash_lsh_pairs (same interface).

    ``hash_shingles`` (default on) replaces each shingle string with its
    xxhash64 before any shuffle: the join/agg keys become fixed-width int64
    instead of strings, cutting shuffle bytes ~4x for k=3 UTF-8 shingles and
    more for larger k. Results are identical modulo 64-bit hash collisions
    (~1e-12 for realistic per-doc shingle counts) — the output only carries
    intersection COUNTS, never the shingles, so the DuckDB oracle computed
    over raw strings still matches. No cache: recomputing the scan-side
    shingle projection per use is cheaper at scale than materializing the
    exploded table in memory.
    """
    sh = char_shingles(df, text_col, id_col, k)
    if hash_shingles:
        sh = sh.select(id_col, F.xxhash64("shingle").alias("shingle"))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (_qualified("a", id_col) < _qualified("b", id_col)),
        )
        .groupBy(_qualified("a", id_col).alias("d1"), _qualified("b", id_col).alias("d2"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    s1 = sizes.alias("s1")
    s2 = sizes.alias("s2")
    return (
        inter.join(s1, F.col("d1") == _qualified("s1", id_col))
        .join(s2, F.col("d2") == _qualified("s2", id_col))
        .withColumn(
            "jaccard_e6",
            F.expr(f"n_inter * {SCALE} div (s1.sz + s2.sz - n_inter)"),
        )
        .filter(F.col("jaccard_e6") >= threshold_e6)
        .select("d1", "d2", "jaccard_e6")
    )


def _seeded_hash_sql(col: str, seed: int, hash_fn: str) -> str:
    """Seeded content hash of the SQL expression ``col``. ``xxhash64``
    (default): fastest, JVM-only. ``md5``: hex-string hash both Spark and
    DuckDB implement identically — the cross-engine-checkable variant
    (string MIN/ordering over lowercase hex is engine-stable), used by the
    oracled catalog entries."""
    if hash_fn == "md5":
        return f"md5(concat_ws(':', '{seed}', {col}))"
    return f"xxhash64({col}, {seed})"


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per document: for each of ``num_hashes`` seeded
    hash functions, the min hash over the document's shingle set.

    Computed ENTIRELY scan-side — ``array_min(transform(shingles, s ->
    h_seed(s)))`` per seed over the document's shingle array, one output
    row per input row, zero shuffle and zero row explosion. (The previous
    explode → groupBy(id) → num_hashes·MIN shape produced one row per
    shingle before the partial aggregate; at sf64 geometry that is ~1e9
    generated rows of pure aggregation overhead for the same values.) The
    shingle array is bound once in its own projection so Catalyst's
    CollapseProject keeps it single-evaluation rather than inlining it
    into all num_hashes consumers. Values are bit-identical to the
    grouped form: MIN over exploded distinct shingles == array_min over
    the distinct-shingle array (string mins are lexicographic in both
    shapes, so the md5 oracle variant is unaffected), and documents with
    no shingles emit no row, matching the explode-drop semantics. Seeds
    are column literals, not Python randomness, so signatures are
    reproducible across runs/engines.
    """
    arr = _shingle_array(text_col, k)

    # per-seed mins as parsed SQL (round-10): the lambda-Column build of
    # the same 32 array_min(transform(...)) trees measured 1.7 s of py4j
    # per call; the parsed trees are node-identical (s is the element —
    # the transform lambda never binds the index parameter)
    mins = [
        f"array_min(transform(_shingles, s -> {_seeded_hash_sql('s', seed, hash_fn)}))"
        f" AS mh_{seed}"
        for seed in range(num_hashes)
    ]
    # length(text) >= k is the scan-cheap equivalent of size(shingles) > 0
    # (see char_shingle_sets) — it keeps the array expression out of the
    # filter entirely
    return (
        df.filter(F.length(text_col) >= k)
        .select(F.col(id_col), arr.alias("_shingles"))
        .selectExpr(quote_ident(id_col), *mins)
    )


def lsh_band_stack(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Band a signature frame into (id, band, bucket) rows — the LSH index.

    One row per (doc, band); bucket = hash of the band's signature slice.
    This narrow 3-column table is the DURABLE artifact of incremental
    dedup (operators.incremental_dedup): candidates at any later time are
    equi-joins against it, so the corpus is never re-signed.
    """
    rows_per_band = num_hashes // bands
    band_exprs = []
    for band in range(bands):
        cols = ", ".join(
            f"mh_{seed}"
            for seed in range(band * rows_per_band, (band + 1) * rows_per_band)
        )
        if hash_fn == "md5":
            band_exprs.append(f"md5(concat_ws('|', {cols})) AS band_{band}")
        else:
            band_exprs.append(f"xxhash64({cols}, {10_000 + band}) AS band_{band}")
    banded = sig.selectExpr(quote_ident(id_col), *band_exprs)
    structs = ", ".join(
        f"named_struct('band', {i}, 'bucket', band_{i})" for i in range(bands)
    )
    return banded.selectExpr(
        quote_ident(id_col), f"explode(array({structs})) AS bb"
    ).select(id_col, "bb.band", "bb.bucket")


def _intersect_run_kernel(it):
    """mapInArrow kernel: |ss1 ∩ ss2| per row over partitions sorted by
    ``d1`` — the verify stage's inner loop, run-amortized.

    The JVM ``array_intersect`` rebuilds ss1's hash set PER PAIR; on
    LSH-banded candidates the same d1 appears in hundreds of consecutive
    pairs (sf0.1: 4964 d1 groups averaging 873 candidates each), so the
    kernel sorts each run's A = ss1 ONCE and probes every pair's B = ss2
    with one vectorized ``searchsorted`` over the run's concatenated
    values buffer (guide §4.2: Arrow at the boundary, NumPy per batch —
    a list<int64> Arrow column is one contiguous values buffer plus
    offsets, so the per-run flatten is zero-copy). Counts are exact:
    both arrays hold distinct int64s, so "elements of B found in sorted
    A" equals ``size(array_intersect(ss1, ss2))`` bit-for-bit. Runs
    spanning batch boundaries reuse the carried (key, sorted A) state.
    Rows only ever map 1:1 (d1, d2, sz1, sz2 pass through; n_inter is
    appended); thresholding stays in integer-domain JVM expressions
    downstream, identical to the jvm path.
    """
    import numpy as np
    import pyarrow as pa

    cur_key = None
    cur_A = None
    for batch in it:
        n = batch.num_rows
        if n == 0:
            continue
        d1_np = batch.column("d1").to_numpy(zero_copy_only=False)
        ss1 = batch.column("ss1")
        ss2 = batch.column("ss2")
        o1 = ss1.offsets.to_numpy()
        v1 = ss1.values.to_numpy()
        o2 = ss2.offsets.to_numpy()
        v2 = ss2.values.to_numpy()
        change = np.empty(n, dtype=bool)
        change[0] = True
        change[1:] = d1_np[1:] != d1_np[:-1]
        starts = np.flatnonzero(change)
        ends = np.append(starts[1:], n)
        n_inter = np.empty(n, dtype=np.int32)
        for r in range(len(starts)):
            i0, i1 = starts[r], ends[r]
            if r == 0 and cur_key is not None and d1_np[i0] == cur_key:
                A = cur_A
            else:
                A = np.sort(v1[o1[i0]:o1[i0 + 1]])
            B = v2[o2[i0]:o2[i1]]
            idx = np.searchsorted(A, B)
            hits = np.zeros(len(B), dtype=np.int64)
            valid = idx < len(A)
            iv = idx[valid]
            hits[valid] = (A[iv] == B[valid]).astype(np.int64)
            # cumsum segment sums instead of add.reduceat: reduceat
            # misreads zero-length segments, cumsum is branch-free
            cs = np.concatenate(([0], np.cumsum(hits)))
            seg = o2[i0:i1 + 1] - o2[i0]
            n_inter[i0:i1] = (cs[seg[1:]] - cs[seg[:-1]]).astype(np.int32)
            if r == len(starts) - 1:
                cur_key = d1_np[i0]
                cur_A = A
        yield pa.RecordBatch.from_arrays(
            [batch.column("d1"), batch.column("d2"),
             pa.array(n_inter, type=pa.int32()),
             batch.column("sz1"), batch.column("sz2")],
            names=["d1", "d2", "n_inter", "sz1", "sz2"],
        )


def jaccard_verify_pairs(
    candidates: DataFrame,
    sh: DataFrame,
    id_col: str = "doc_id",
    threshold_e6: int = 800_000,
) -> DataFrame:
    """Exact-Jaccard verification restricted to candidate (d1, d2) pairs.

    ``sh`` is the per-document set frame from ``char_shingle_sets`` —
    (id, ss array<bigint>), built scan-side with zero shuffles.
    Candidates join that narrow (id, array) table on each side and
    |A∩B| is computed per pair in the run-amortized Arrow kernel
    (``_intersect_run_kernel``: each d1's sorted set built once per
    consecutive run, pairs probed vectorized).
    |A∪B| = |A|+|B|-|A∩B|. Cost is linear in (candidates x doc shingle count)
    WITHOUT materializing exploded (pair, shingle) rows through an
    exchange: the previous explode-then-equi-join shape shuffled
    |candidates| x |shingles(d1)| rows, which on template-heavy corpora
    (banding false-positive rate >99.9%: 4.3M candidates from 5k docs at
    sf0.1) was 224 s of a 230 s run — this shape verifies the same
    candidates in ~2 s. Candidate pairs sharing zero shingles drop out
    (inner n_inter >= 1 filter), matching the old inner-join behavior.
    Per-doc array size is bounded by document length — the same bound the
    exploded shape carried per group.

    Two deliberate physical choices: (1) shingles are xxhash64'd to int64
    in the set frame — the intersect probes fixed-width longs instead of
    strings, and counts are identical modulo 64-bit collisions (~1e-12 for
    realistic per-doc shingle counts; same argument, and same oracle
    compatibility, as ``ngram_jaccard_pairs``' hash_shingles). (2) the
    candidate frame is explicitly repartitioned to the session default
    parallelism before the joins: AQE coalesces post-shuffle partitions by
    BYTE size, and millions of 16-byte candidate rows collapse into one
    partition — serializing the per-pair intersect, which is the entire
    cost. The repartition shuffles only the narrow id pairs; the shingle
    arrays join in AFTER it (broadcast at small scale), so they are never
    shuffled per candidate.
    """
    sets = sh.select(id_col, "ss")
    par = candidates.sparkSession.sparkContext.defaultParallelism
    joined = (
        candidates.repartition(par, "d1", "d2")
        .join(sets.select(F.col(id_col).alias("d1"), F.col("ss").alias("ss1")), "d1")
        .join(sets.select(F.col(id_col).alias("d2"), F.col("ss").alias("ss2")), "d2")
        .select("d1", "d2", "ss1", "ss2", F.size("ss1").alias("sz1"), F.size("ss2").alias("sz2"))
        # Exact size-ratio prefilter: J = |A∩B|/|A∪B| <= min(|A|,|B|)/max —
        # any pair failing this cannot pass the threshold, so dropping it
        # BEFORE the O(|A|+|B|) intersect never changes the output.
        .filter(
            F.least("sz1", "sz2") * F.lit(SCALE) >= F.lit(threshold_e6) * F.greatest("sz1", "sz2")
        )
    )
    # run-amortized Arrow kernel (round-11, guide §4): a local sort on d1
    # makes same-d1 candidates contiguous within each task (no exchange —
    # the (d1, d2) repartition above already placed them), the kernel
    # builds each d1's sorted set once per run and probes all its pairs
    # vectorized. Same-session paired A/B at sf0.1 (2.85M post-prefilter
    # pairs): per-pair JVM array_intersect 10.7/11.4 s vs Arrow 5.9/2.9 s
    # min-of-5, outputs byte-identical.
    scored = joined.sortWithinPartitions("d1").mapInArrow(
        _intersect_run_kernel,
        f"d1 {dict(joined.dtypes)['d1']}, d2 {dict(joined.dtypes)['d2']},"
        " n_inter int, sz1 int, sz2 int",
    )
    return (
        scored.filter(F.col("n_inter") >= 1)
        .withColumn("jaccard_e6", F.expr(f"n_inter * {SCALE} div (sz1 + sz2 - n_inter)"))
        .filter(F.col("jaccard_e6") >= threshold_e6)
        .select("d1", "d2", "jaccard_e6")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold_e6: int = 800_000,
    hash_fn: str = "xxhash64",
    estimate_prefilter_e6: int | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash + LSH banding, verified with exact Jaccard.

    bands=8 x rows=4 over 32 hashes -> candidate probability ~1 at J>=0.8.
    Scale path: candidates per band bucket only (bucket id = hash of the
    band's slice), so the join is bounded by bucket sizes, not n^2. The
    verification recomputes exact Jaccard only for candidate pairs.

    ``estimate_prefilter_e6`` prunes candidates by signature agreement
    BEFORE the exact intersect: probing the broadcast (id, num_hashes
    ints) signature table per candidate is cheap next to the per-pair
    O(|A|+|B|) intersect. Recall bound: a J>=0.8 pair fails a 0.5 cutoff
    only if its binomial estimate undershoots — P[Binom(32, 0.8) < 16] ≈
    5e-6. MEASURED HONESTLY, the pruning is weak at num_hashes=32: band
    candidates are inherently biased toward medium similarity (collision
    prob ~ bands·J^rows), so a recall-safe cutoff ~3σ below threshold
    (σ = sqrt(J(1-J)/num_hashes) ≈ 0.07) keeps 79% of the bench corpus's
    4.3M candidates and saves ~1 s of 12. The knob earns its keep at
    num_hashes >= 128, where σ halves twice and the safe cutoff tightens
    to ~0.7; at 32 hashes prefer ``minhash_estimate_pairs`` if the exact
    verify is too expensive. Exactness is the default (``None``): q48's
    oracle pins the unpruned contract; x132 pins this one (same cutoff in
    engine and oracle, so the pruning is cross-engine-checked, not
    assumed).

    ``hash_fn="md5"`` swaps every hash for md5 hex strings (wider shuffles,
    same asymptotics) so the whole pipeline has a DuckDB twin — the oracled
    catalog entries (q48/x132) run that variant; this default stays
    xxhash64.

    **The all-pairs contract is OUTPUT-bound, not algorithm-bound**: a
    corpus whose duplication factor grows with corpus size (e.g. a base
    corpus replicated d×, as replication-scaled benchmark data is) has
    Θ(groups · d²) qualifying pairs — at d=640 over 5k duplicate groups
    that is ≥1e9 output rows regardless of how candidates are generated,
    and the band-bucket self-join emits every one of them. Real corpora
    hold the duplicate RATE roughly constant as they grow (pairs scale
    linearly), but on heavily-replicated inputs run exact dedup first and
    pair only the canonical survivors — ``curate`` stages exact dedup
    before this operator for exactly that reason.
    """
    sig = minhash_signatures(df, text_col, id_col, k, num_hashes, hash_fn)
    if estimate_prefilter_e6 is not None:
        # with the prefilter the signatures feed the band stack AND both
        # agreement sides — same 3x re-evaluation the estimate path
        # barriers against (round-10); unfiltered, sig is read once and
        # needs no barrier
        sig = sig.localCheckpoint(eager=False)
    # candidates: LSH band-bucket equi-join, then exact Jaccard for THOSE
    # pairs only — never the all-shared-shingle-pairs join.
    candidates = band_candidates(sig, id_col, num_hashes, bands, hash_fn)
    if estimate_prefilter_e6 is not None:
        candidates = (
            _signature_agreement_e6(
                candidates, sig, sig, "d1", "d2", id_col, num_hashes,
                ("d1", "d2"),
            )
            .filter(F.col("jaccard_e6") >= estimate_prefilter_e6)
            .select("d1", "d2")
        )
    sh = char_shingle_sets(df, text_col, id_col, k)
    return jaccard_verify_pairs(candidates, sh, id_col, threshold_e6)


def band_candidates(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Distinct (d1, d2) candidate pairs sharing at least one LSH band
    bucket — the shared candidate generator of the exact-verified
    (``minhash_lsh_pairs``) and signature-estimated
    (``minhash_estimate_pairs``) paths.

    The stack is explicitly repartitioned on the join keys before the
    self-join: both aliases then hang off ONE shuffle of the narrow
    (id, band, bucket) rows, so the signature computation underneath is
    planned once and reused (ReusedExchange) instead of evaluated per
    side — without this, a broadcast-eligible stack (no exchange of its
    own) re-derives all num_hashes array_min/transform signature
    expressions on each side of the join. The same shuffle pre-colocates
    the equi-join, so no further exchange follows it.
    """
    stacked = lsh_band_stack(sig, id_col, num_hashes, bands, hash_fn)
    par = sig.sparkSession.sparkContext.defaultParallelism
    stacked = stacked.repartition(par, "band", "bucket")
    a = stacked.alias("a")
    b = stacked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (_qualified("a", id_col) < _qualified("b", id_col)),
        )
        .select(_qualified("a", id_col).alias("d1"), _qualified("b", id_col).alias("d2"))
        .distinct()
    )


def _signature_agreement_e6(
    candidates: DataFrame,
    sig_a: DataFrame,
    sig_b: DataFrame,
    a_col: str,
    b_col: str,
    id_col: str,
    num_hashes: int,
    repartition_cols: tuple[str, ...],
    broadcast_b: bool = False,
) -> DataFrame:
    """UNFILTERED ``(a_col, b_col, jaccard_e6)`` signature-agreement
    estimates for candidate pairs — the one copy of the estimator shared
    by ``minhash_estimate_pairs`` (self-join) and ``decontaminate_fuzzy``
    (cross-table, broadcast benchmark side): the agree fold, the
    AQE-coalesce repartition guard, and the integer-div e6 estimate live
    here so a fix lands everywhere."""
    s1 = sig_a.selectExpr(
        f"{quote_ident(id_col)} AS {a_col}",
        *[f"mh_{s} AS a_{s}" for s in range(num_hashes)],
    )
    s2 = sig_b.selectExpr(
        f"{quote_ident(id_col)} AS {b_col}",
        *[f"mh_{s} AS b_{s}" for s in range(num_hashes)],
    )
    # agree fold as ONE parsed expression (round-10 py4j economics)
    agree = None
    for s in range(num_hashes):
        term = f"CASE WHEN a_{s} = b_{s} THEN 1 ELSE 0 END"
        agree = term if agree is None else f"({agree} + {term})"
    par = candidates.sparkSession.sparkContext.defaultParallelism
    return (
        candidates.repartition(par, *repartition_cols)  # AQE-coalesce guard
        .join(s1, a_col)
        .join(F.broadcast(s2) if broadcast_b else s2, b_col)
        .selectExpr(a_col, b_col, f"CAST({agree} AS BIGINT) AS n_agree")
        # integer div, not floating /: bit-exact in both engines for any
        # num_hashes, not just powers of two
        .withColumn("jaccard_e6", F.expr(f"n_agree * {SCALE} div {num_hashes}"))
        .select(a_col, b_col, "jaccard_e6")
    )


def minhash_estimate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold_e6: int = 800_000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with the Jaccard ESTIMATED from signature agreement —
    no exact verification, no second shingle pass.

    ``jaccard_e6`` here is ``#agreeing signature components * 1e6 div
    num_hashes`` (an unbiased binomial estimate of true Jaccard, stderr
    ~ sqrt(J(1-J)/num_hashes) ≈ 0.07 at J=0.8, num_hashes=32). This is
    what large-scale production dedup actually ships: the expensive step
    on precision-hostile corpora is not candidate generation but
    verification (boilerplate-heavy corpora push band false-positive
    rates past 99.9%), and the estimate needs only a broadcast-sized
    (id, 32 ints) signature table probed per candidate — never the
    documents again. Use ``minhash_lsh_pairs`` when downstream needs
    exact Jaccard (its docstring's contract); both share the same
    signatures and band candidates, so the estimate also serves as a
    prefilter stage for the exact path. Deterministic given the seeded
    hashes, so the md5 variant is DuckDB-oracle-checkable exactly (x85).
    """
    # barrier (round-10, guide §5): the signature frame feeds the band
    # stack AND both agreement sides — three scan-side evaluations of
    # the 32 array_min folds with no exchange to reuse. One
    # localCheckpoint of the narrow (id, 32 ints) frame bounds it at one
    # evaluation; it is exactly the durable band-store artifact the
    # incremental path persists anyway.
    sig = minhash_signatures(
        df, text_col, id_col, k, num_hashes, hash_fn
    ).localCheckpoint(eager=False)
    candidates = band_candidates(sig, id_col, num_hashes, bands, hash_fn)
    est = _signature_agreement_e6(
        candidates, sig, sig, "d1", "d2", id_col, num_hashes, ("d1", "d2")
    )
    return est.filter(F.col("jaccard_e6") >= threshold_e6)


def simhash_bits(hash_fn: str) -> int:
    """Fingerprint width: 64 for xxhash64; 60 for md5 (15 hex chars — the
    widest slice both engines can parse into a signed 64-bit int)."""
    return 60 if hash_fn == "md5" else 64


def simhash64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", hash_fn: str = "xxhash64"
) -> DataFrame:
    """64-bit SimHash over whitespace tokens.

    Per token: a 64-bit hash; per bit b: sum of +-1 across tokens;
    fingerprint bit b = 1 if the sum is positive. Expressed as one
    conditional-sum aggregate per bit over the exploded tokens — one shuffle
    on doc id, all JVM-side.

    ``hash_fn="md5"`` hashes each token with the 60-bit ``sketches.h60``
    (bit-identical to DuckDB's ``o_h60``), so the oracled catalog entry
    (q49) is cross-engine checkable.
    """
    n_bits = simhash_bits(hash_fn)
    tokens = df.select(
        F.col(id_col),
        F.explode(F.expr(_words_sql(quote_ident(text_col)))).alias("tok"),
    ).withColumn("h", h60(F.col("tok")) if hash_fn == "md5" else F.xxhash64("tok"))
    # per-bit sums and the fingerprint fold as parsed SQL (round-10 py4j
    # economics — the Column-API loops measured ~1 s of driver Python)
    bit_sums = [
        F.expr(
            f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END)"
        ).alias(f"bit_{b}")
        for b in range(n_bits)
    ]
    agg = tokens.groupBy(id_col).agg(*bit_sums)
    fp = None
    for b in range(n_bits):
        term = (
            f"CASE WHEN bit_{b} > 0 THEN SHIFTLEFT(CAST(1 AS BIGINT), {b})"
            f" ELSE CAST(0 AS BIGINT) END"
        )
        fp = term if fp is None else f"({fp} | {term})"
    return agg.selectExpr(quote_ident(id_col), f"{fp} AS simhash")


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Pigeonhole blocking: split the fingerprint into ``blocks`` chunks;
    any pair within distance max_hamming < blocks shares at least one exact
    chunk, so candidates come from equi-joins on chunks (scales; no n^2).
    """
    fp = simhash64(df, text_col, id_col, hash_fn)
    return hamming_near_pairs(
        fp, "simhash", id_col, max_hamming, blocks, bits=simhash_bits(hash_fn)
    )


def hamming_near_pairs(
    fp: DataFrame,
    hash_col: str,
    id_col: str,
    max_hamming: int = 3,
    blocks: int = 4,
    bits: int = 64,
) -> DataFrame:
    """Pairs of ids whose ``bits``-wide fingerprints differ in <=
    ``max_hamming`` bit positions — the pigeonhole band join shared by
    SimHash text near-dup and perceptual image near-dup (multimodal.phash):
    with max_hamming < blocks, any qualifying pair agrees exactly on at
    least one of the ``blocks`` chunks, so candidates come from ``blocks``
    equi-joins (uniform chunk keys, never all-pairs). Returns
    ``(d1, d2, hamming)`` with d1 < d2."""
    if max_hamming >= blocks:
        raise ValueError(
            f"pigeonhole needs max_hamming < blocks (got {max_hamming} >= {blocks})"
        )
    width = bits // blocks
    chunks = fp.select(
        id_col,
        F.col(hash_col).alias("_fp"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("blk"),
                    F.expr(
                        f"({quote_ident(hash_col)} >> {i * width}) & {(1 << width) - 1}"
                    ).alias("chunk"),
                )
                for i in range(blocks)
            ])
        ).alias("bc"),
    ).select(id_col, "_fp", "bc.blk", "bc.chunk")
    a = chunks.alias("a")
    b = chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (_qualified("a", id_col) < _qualified("b", id_col)),
        )
        .select(
            _qualified("a", id_col).alias("d1"),
            _qualified("b", id_col).alias("d2"),
            F.col("a._fp").alias("sh1"),
            F.col("b._fp").alias("sh2"),
        )
        .distinct()
        .withColumn("hamming", F.bit_count(F.expr("sh1 ^ sh2")))
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs.select("d1", "d2", "hamming")


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 500,
    overlap: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window document chunking with overlap — the standard
    training-data preparation step (context-window packing input).

    Windows start every ``stride = chunk_size - overlap`` characters; the
    final window is the first one whose end reaches the text end, so every
    character is covered and consecutive chunks share exactly ``overlap``
    characters (except possibly the last, which may overlap more when the
    tail is short).

    Output: ``(id, chunk_id, chunk_start, chunk_text, chunk_chars,
    chunk_tokens)``, one row per window, 1-based ``chunk_start``.

    Scale: a pure narrow transform — ``explode(sequence(...))`` fans out
    ~len/stride rows per document with NO shuffle; all expressions are
    integer/substring Catalyst built-ins inside whole-stage codegen, and
    the bounded fan-out keeps task memory flat regardless of corpus size.
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    stride = chunk_size - overlap
    q = quote_ident(text_col)
    n_chunks = F.expr(
        f"CASE WHEN length({q}) <= {chunk_size} THEN 1 "
        f"ELSE CAST(ceil((length({q}) - {chunk_size}) / {stride}.0) AS INT) + 1 END"
    )
    return (
        df.select(
            id_col,
            F.col(text_col),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            id_col,
            "chunk_id",
            (F.col("chunk_id") * stride + 1).alias("chunk_start"),
            F.expr(f"substring({q}, chunk_id * {stride} + 1, {chunk_size})").alias(
                "chunk_text"
            ),
        )
        .withColumn("chunk_chars", F.length("chunk_text"))
        .withColumn("chunk_tokens", token_count("chunk_text"))
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    token_col: str = "chunk_tokens",
    order_cols: tuple[str, ...] = ("doc_id", "chunk_id"),
) -> DataFrame:
    """Assign fixed-budget sequence packs (context-window packing).

    Items are laid out in ``order_cols`` order along a cumulative token
    axis; ``pack_id = floor(exclusive_cumsum / budget)`` — i.e. packs are
    consecutive budget-sized slices of the token stream. With inputs
    already chunked to <= budget tokens (chunk_documents), this is the
    concat-and-wrap packing used to fill training context windows;
    ``pack_offset`` gives the item's start inside its pack.

    Scale: the GLOBAL contract does not need a single-reducer window —
    the exclusive cumsum is exact under range bucketing: rows range-
    partition on ``order_cols`` (order-respecting by construction), the
    within-bucket cumsum runs partitioned, and cross-bucket offsets are a
    driver-side prefix sum over n_buckets scalars (the
    ``sampling.token_budget_select`` contract). The bucketed frame is
    checkpointed once because range boundaries are sampled per execution
    — the offsets pass and the output pass must see the SAME bucketing.
    """
    from pyspark.sql.window import Window

    from .sampling import exclusive_prefix, offset_map_expr

    n_buckets = df.sparkSession.sparkContext.defaultParallelism
    b = (
        df.repartitionByRange(n_buckets, *[F.col(c) for c in order_cols])
        .localCheckpoint(eager=True)
        .withColumn("_bkt", F.spark_partition_id())
    )
    w = Window.partitionBy("_bkt").orderBy(*[F.col(c) for c in order_cols])
    cum_in = F.coalesce(
        F.sum(F.col(token_col)).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    totals = b.groupBy("_bkt").agg(F.sum(token_col).alias("t")).collect()
    offsets = exclusive_prefix({r["_bkt"]: r["t"] for r in totals})
    cum_excl = offset_map_expr(offsets, "_bkt") + cum_in
    return (
        b.withColumn("pack_id", F.floor(cum_excl / F.lit(budget)).cast("int"))
        .withColumn("pack_offset", (cum_excl % F.lit(budget)).cast("int"))
        .drop("_bkt")
    )


def repetition_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Repetition quality signal: duplicate word-trigram ratio (the
    Gopher/Dolma-style repetitious-text filter).

    For each document, lowercase-whitespace tokens form overlapping word
    trigrams; ``dup_trigram_ratio_e6`` = (occurrences - distinct) / 
    occurrences in e6 fixed point (0 for texts under 3 tokens). Boilerplate
    and looping generations score high; natural prose scores near 0.

    Scale: per-row higher-order array expressions (transform/array_distinct)
    — embarrassingly parallel, no shuffle, codegen-eligible; memory is
    bounded by document length, not corpus size.
    """
    tri = _let_sql(_words_sql(quote_ident(text_col), lower=True), _word_ngrams_sql("ws", 3))
    return df.selectExpr(quote_ident(id_col), f"{tri} AS _tri").selectExpr(
        quote_ident(id_col),
        "CAST(size(_tri) AS BIGINT) AS n_trigrams",
        "CAST(size(array_distinct(_tri)) AS BIGINT) AS n_distinct_trigrams",
    ).withColumn(
        "dup_trigram_ratio_e6",
        # integer div: bit-stable across engines (e6 fixed-point convention)
        F.expr(
            "CASE WHEN n_trigrams > 0 THEN "
            "(n_trigrams - n_distinct_trigrams) * 1000000 div n_trigrams "
            "ELSE 0 END"
        ),
    )


PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+?[0-9][0-9() .-]{7,}[0-9]"


def redact_pii(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Scrub emails and phone-like digit runs before training-data export.

    Patterns are deliberately RE2-compatible (no backrefs/lookarounds) so
    Java-regex (Spark) and RE2 (DuckDB oracle) agree byte-for-byte; email
    redaction is applied before phone redaction on both sides, so the
    composition is deterministic. Per-row regexp_replace — no shuffle,
    codegen-eligible, linear in document length.
    """
    col = F.col(text_col)
    after_email = F.regexp_replace(col, PII_EMAIL_RE, "[EMAIL]")
    return df.select(
        id_col,
        F.size(F.regexp_extract_all(col, F.lit(PII_EMAIL_RE), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(after_email, F.lit(PII_PHONE_RE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.regexp_replace(after_email, PII_PHONE_RE, "[PHONE]").alias("redacted_text"),
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 3,
    min_term_len: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf.

    The idf factor is the integer ratio ``N / df`` (linear idf) rather than
    ``log(N/df)``: the ranking it induces per document is monotone in the
    same (tf, rarity) ordering for fixed tf, and integer arithmetic is
    bit-stable across engines where log's last-ulp differences are not —
    which is what makes the cross-engine oracle exact. Ties break on the
    term string, so the top-k set is fully deterministic.

    Scale: tokens explode -> (doc, term) counts -> one small df-per-term
    aggregate joined back; the per-doc top-k is a window over the (doc,
    term) relation — everything partial-aggregates map-side first.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"filter({_words_sql(quote_ident(text_col), lower=True)},"
                f" t -> length(regexp_replace(t, '[^a-z]', '')) >= {min_term_len})"
            )
        ).alias("raw"),
    ).select(id_col, F.regexp_replace("raw", "[^a-z]", "").alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(id_col).distinct().count()
    from pyspark.sql.window import Window

    scored = (
        tf.join(docfreq, "term")
        .withColumn("score_e6", F.expr(f"tf * {SCALE}L * {n_docs} div df"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score_e6"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(id_col, "rank", "term", "tf", "df", "score_e6")
    )


def word_ngrams(c: str, n: int) -> Column:
    """Distinct word n-grams of lowercased whitespace tokens (array)."""
    words = _words_sql(quote_ident(c), lower=True)
    return F.expr(f"array_distinct({_let_sql(words, _word_ngrams_sql('ws', n))})")


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing ANY word
    ``n``-gram with the benchmark set (the standard test-set-leakage
    filter for pretraining corpora).

    Relational shape: both sides reduce to DISTINCT n-grams, the flag is a
    left-semi join on the n-gram — never a cross join; shuffle volume is
    the distinct-gram sets, which map-side dedup shrinks first. At 100 TB
    hash the grams (xxhash64) before the shuffle exactly like
    ngram_jaccard_pairs does.
    """
    grams = F.explode(word_ngrams(text_col, n)).alias("gram")
    corpus_grams = corpus.select(F.col(id_col), grams)
    bench_grams = benchmark.select(grams).distinct()
    hits = (
        corpus_grams.join(bench_grams, "gram", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col, F.coalesce("contaminated", F.lit(False)).alias("contaminated")
        )
    )


def ngram_novelty(
    df: DataFrame,
    reference: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document novelty against a reference corpus: the fraction of
    the doc's DISTINCT word ``n``-grams absent from the reference's
    distinct gram set — the data-valuation signal novelty-based
    selection ranks on (a doc whose phrasing the corpus already holds
    contributes little new signal). Scoring complement of
    ``decontaminate`` (which flags ANY overlap with a benchmark; this
    measures HOW MUCH is new vs a training corpus).

    Returns ``(id_col, n_grams, n_novel, novelty_e6)`` for every input
    row; docs too short for an ``n``-gram get ``n_grams = 0`` and NULL
    novelty. ``novelty_e6`` is integer fixed-point (engine-stable).

    Relational shape: both sides reduce to distinct grams; novelty is
    one left-anti join + two doc-id counts. At 100 TB hash the grams
    before the shuffle and keep the reference side as a persisted
    distinct-gram store (it is the corpus-side artifact the incremental
    band-store pattern already maintains).
    """
    grams = df.select(
        F.col(id_col), F.explode(word_ngrams(text_col, n)).alias("gram")
    )
    ref = reference.select(
        F.explode(word_ngrams(text_col, n)).alias("gram")
    ).distinct()
    novel = grams.join(ref, "gram", "left_anti").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    totals = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    return (
        df.select(id_col)
        .join(totals, id_col, "left")
        .join(novel, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.when(
                F.coalesce("n_grams", F.lit(0)) > 0,
                F.coalesce("n_novel", F.lit(0)),
            ).alias("n_novel"),
            F.when(
                F.coalesce("n_grams", F.lit(0)) > 0,
                F.expr("coalesce(n_novel, 0) * 1000000 div n_grams"),
            ).alias("novelty_e6"),
        )
    )


def span_dedup(
    df: DataFrame,
    span_words: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style span-level deduplication (Raffel et al. 2020 §2.2 — "we
    discard all but one of any three-sentence span occurring more than
    once"), on fixed ``span_words``-word spans since this corpus has no
    sentence boundaries: tile each document into consecutive word spans
    (last span may be partial), keep only the globally FIRST occurrence of
    each span text (ordered by ``(doc_id, position)``), and reassemble the
    surviving spans in document order.

    Returns ``(id_col, clean_text, n_spans, n_removed)`` for every input
    document (a fully-deduplicated document keeps an empty ``clean_text``).

    Relational shape: one posexplode, one window rank over the span text
    (the only shuffle, uniform span-hash keys), one ordered reassembly
    groupBy. At 100 TB hash the spans (xxhash64) before the rank shuffle —
    the reassembly carries span text only for the surviving minority.
    """
    from pyspark.sql import Window

    # coalesce NULL text to '' so posexplode still emits the one empty
    # span — a NULL-text doc must keep its output row (the "for every
    # input document" contract; posexplode(NULL) would drop it entirely)
    words = _words_sql(quote_ident(text_col), null_empty=True)
    spans = df.select(
        F.col(id_col),
        F.posexplode(F.expr(_let_sql(words, _word_tiles_sql("ws", span_words)))).alias(
            "pos", "span"
        ),
    )
    w = Window.partitionBy("span").orderBy(F.col(id_col), F.col("pos"))
    ranked = spans.withColumn("rn", F.row_number().over(w))
    kept = ranked.filter(F.col("rn") == 1)
    reassembled = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.expr("transform(array_sort(collect_list(struct(pos, span))), s -> s.span)"),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = spans.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_spans"))
    return (
        totals.join(reassembled, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_spans",
            (F.col("n_spans") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
        )
    )


def segment_frequency_filter(
    df: DataFrame,
    seg_words: int = 8,
    max_occurrences: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet/RefinedWeb-style boilerplate removal: drop EVERY copy of any
    ``seg_words``-word segment whose corpus-wide occurrence count exceeds
    ``max_occurrences``, then reassemble the survivors in document order
    (Wenzek et al. 2020 §4.1 dedup the corpus at paragraph granularity;
    Penedo et al. 2023 §G.2 drop over-frequent lines from every page).

    The complement of ``span_dedup`` (C4 keep-first): a navigation menu
    that appears on ten thousand pages is removed from ALL of them here,
    whereas keep-first would bless one arbitrary copy. Segments are fixed
    ``seg_words``-word tiles since this corpus has no newlines.

    Returns ``(id_col, clean_text, n_segments, n_removed)`` for every
    input document.

    Relational shape: one posexplode, one groupBy count on segment text
    (the only wide shuffle; keys are content-uniform), one join back, one
    ordered reassembly groupBy. At 100 TB count on ``xxhash64(segment)``
    instead of the text and broadcast the over-frequent set — boilerplate
    is a tiny minority of distinct segments (the entry keeps text-keyed
    counting for oracle bit-parity at test scale).
    """
    words = _words_sql(quote_ident(text_col), null_empty=True)
    segs = df.select(
        F.col(id_col),
        F.posexplode(F.expr(_let_sql(words, _word_tiles_sql("ws", seg_words)))).alias(
            "pos", "seg"
        ),
    )
    over = (
        segs.groupBy("seg")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > max_occurrences)
        .select("seg")
    )
    kept = segs.join(over, "seg", "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.expr("transform(array_sort(collect_list(struct(pos, seg))), s -> s.seg)"),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = segs.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_segments"))
    return totals.join(reassembled, id_col, "left").select(
        id_col,
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        "n_segments",
        (F.col("n_segments") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
    )


def unicode_normalize(
    df: DataFrame,
    form: str = "NFC",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unicode normalization of a text column — the canonicalization stage
    every multilingual pretraining pipeline runs before hashing/dedup
    (decomposed "e" + U+0301 and precomposed "é" must dedup together).

    Returns ``(id_col, text_norm, changed, n_chars_raw, n_chars_norm)``.

    Spark has no built-in normalizer, so this is the documented exception
    to the no-Python rule: an Arrow-batched ``mapInPandas`` kernel over
    ``unicodedata.normalize`` (same contract as the multimodal decoders —
    per-row pure function, zero shuffle, embarrassingly parallel; char
    counts are code points in Python, Spark, and DuckDB alike).
    ``form`` is one of NFC/NFD/NFKC/NFKD; the catalog oracles the NFC
    path against DuckDB's ``nfc_normalize``.
    """
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    from pyspark.sql.types import BooleanType

    # id field copied from the INPUT schema (like the similarity pandas
    # kernels): hardcoding LongType would break/miscast int or string ids
    id_field = [f for f in df.schema.fields if f.name == id_col][0]
    out_schema = StructType(
        [
            id_field,
            StructField("text_norm", StringType()),
            StructField("changed", BooleanType()),
            StructField("n_chars_raw", LongType()),
            StructField("n_chars_norm", LongType()),
        ]
    )

    def run(batches):
        import unicodedata

        for pdf in batches:
            raw = pdf[text_col]
            normed = raw.map(
                lambda v: unicodedata.normalize(form, v) if v is not None else None
            )
            out = pdf[[id_col]].copy()
            out["text_norm"] = normed
            out["changed"] = [
                (a != b) if a is not None else False
                for a, b in zip(raw, normed)
            ]
            out["n_chars_raw"] = raw.map(
                lambda v: len(v) if v is not None else None
            ).astype("Int64")
            out["n_chars_norm"] = normed.map(
                lambda v: len(v) if v is not None else None
            ).astype("Int64")
            yield out

    return df.select(id_col, text_col).mapInPandas(run, out_schema)


def cdc_dedup(
    df: DataFrame,
    window: int = 3,
    boundary_hex_prefixes: tuple[str, ...] = ("0", "1"),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined-chunking dedup (the Rabin/FastCDC idea storage
    dedup systems use, at word granularity): a chunk boundary falls
    after word ``i`` wherever the hash of the trailing ``window``-word
    context starts with one of ``boundary_hex_prefixes`` (expected chunk
    length ``16 / len(prefixes)`` words), then only the globally FIRST
    occurrence of each chunk survives and documents reassemble from
    their kept chunks.

    Why not fixed tiles (``span_dedup``): one inserted word shifts every
    later FIXED tile, so two docs differing by one early insertion share no
    tiles at all — CDC boundaries are functions of local content, so
    chunks re-align right after the edit and the shared tail still
    dedups. Returns ``(id_col, clean_text, n_chunks, n_removed)`` for
    every input document.

    Relational shape: each document generates (pos, word, boundary)
    structs in ONE let-bound transform over its word array, then
    explodes — the exploded rows carry O(1) state each (the round-9
    version projected the per-document flag array ALONGSIDE the
    explode, so every word row dragged the full O(|words|) array
    through the Generate: O(words^2) cells per document — a 100k-word
    document pushed ~10^10 cells). The boundary flag is still a
    scan-side md5 of the w-word trailing context (computed inside the
    lambda from a length-``w`` slice); chunk ids are a per-DOCUMENT
    running sum (window partitioned by doc — bounded by document
    length, never global); then the span_dedup keep-first machinery
    (chunk-text rank + ordered reassembly). At 100 TB hash chunk text
    before the rank shuffle.
    """
    from pyspark.sql import Window

    w = window
    words = _words_sql(quote_ident(text_col), null_empty=True)
    prefixes = ", ".join(f"'{p}'" for p in boundary_hex_prefixes)
    # bind the split once per row, then build (pos, word, b) structs: the
    # Generate's INPUT row holds the word array once; its output rows are
    # O(1) wide.
    struct_arr = F.expr(_let_sql(
        words,
        f"transform(sequence(1, size(ws)), i -> struct("
        f" i AS pos, element_at(ws, i) AS word,"
        f" CASE WHEN i >= {w} AND substr(md5(concat_ws(' ',"
        f" slice(ws, i - {w} + 1, {w}))), 1, 1) IN ({prefixes})"
        f" THEN 1 ELSE 0 END AS b))",
    ))
    pos_words = df.select(
        F.col(id_col), F.explode(struct_arr).alias("_s")
    ).select(
        id_col,
        F.col("_s.pos").alias("pos"),
        F.col("_s.word").alias("word"),
        F.col("_s.b").alias("_b"),
    )
    wcum = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = pos_words.withColumn(
        "chunk_idx", F.coalesce(F.sum("_b").over(wcum), F.lit(0))
    )
    chunks = chunked.groupBy(id_col, "chunk_idx").agg(
        F.concat_ws(
            " ",
            F.expr("transform(array_sort(collect_list(struct(pos, word))), s -> s.word)"),
        ).alias("chunk"),
    )
    wk = Window.partitionBy("chunk").orderBy(F.col(id_col), F.col("chunk_idx"))
    kept = chunks.withColumn("rn", F.row_number().over(wk)).filter(F.col("rn") == 1)
    reassembled = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.expr("transform(array_sort(collect_list(struct(chunk_idx, chunk))), s -> s.chunk)"),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = chunks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_chunks"))
    return totals.join(reassembled, id_col, "left").select(
        id_col,
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        "n_chunks",
        (F.col("n_chunks") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
    )


def exact_substring_dedup(
    df: DataFrame,
    k: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
) -> DataFrame:
    """ExactSubstr-style cross-document substring deduplication (Lee et
    al. 2021, arXiv:2107.06499 §4.1): remove every word that lies inside
    a substring of >= ``k`` words occurring elsewhere in the corpus
    (earlier document, or earlier position in the same document), keeping
    the globally first occurrence intact.

    The suffix-array construction of the paper is replaced by a
    shuffle-native equivalence: a substring of >= k words is duplicated
    iff every one of its sliding k-word windows is duplicated, so ranking
    each k-gram occurrence globally by ``(doc_id, pos)`` and erasing the
    word-positions covered by every rank>1 window removes exactly the
    union of duplicated-elsewhere substrings of length >= k — the same
    span set ExactSubstr erases, at word granularity.

    Returns ``(id_col, clean_text, n_tokens, n_removed)`` for every input
    document.

    Relational shape: one posexplode (sliding windows), one rank shuffle
    over the GRAM HASH (grams are hashed before the shuffle — md5 for the
    cross-engine-oracled variant, xxhash64 for the cheap JVM path — so the
    shuffle ships 8-32 bytes per window, never the k-word text), one
    covered-position anti-join, one ordered reassembly. All keys are
    uniform hashes or doc ids — no skew at any scale. Differs from
    span_dedup (C4 tiles, within-corpus first-wins on disjoint spans) by
    sliding windows: boilerplate at ARBITRARY offsets is caught, the
    failure mode tiling misses.

    Sub-``k``-word documents contribute no windows (the size gate of
    ``_word_ngrams_sql``). NULL text is treated as empty
    (coalesced before the split) so the every-input-document contract
    holds — otherwise posexplode(NULL) silently drops the row from the
    token side and the document vanishes from the output.
    """
    from pyspark.sql import Window

    words = df.select(
        F.col(id_col),
        F.expr(_words_sql(quote_ident(text_col), null_empty=True)).alias("t"),
    )
    grams = words.select(
        F.col(id_col), F.posexplode(F.expr(_word_ngrams_sql("t", k))).alias("pos", "gram")
    ).select(
        F.col(id_col),
        F.col("pos"),
        F.expr(_seeded_hash_sql("gram", 0, hash_fn)).alias("g"),
    )
    w = Window.partitionBy("g").orderBy(F.col(id_col), F.col("pos"))
    dup_windows = grams.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") > 1
    )
    # covered MUST be distinct: overlapping duplicated windows cover the
    # same position repeatedly, and the flag join below is a LEFT join
    # (duplicates would multiply token rows and corrupt the counts).
    covered = dup_windows.select(
        F.col(id_col),
        F.explode(F.expr(f"sequence(pos, pos + {k} - 1)")).alias("wpos"),
    ).distinct()
    tokens = words.select(
        F.col(id_col), F.posexplode("t").alias("wpos", "word")
    )
    # One flag join + ONE doc-id aggregation instead of the naive
    # kept-groupBy / totals-groupBy / re-join shape: collect_list drops
    # the NULLs the CASE assigns to covered tokens, so reassembly, token
    # totals and removal counts all come out of a single shuffle.
    flagged = tokens.join(
        covered.withColumn("_cov", F.lit(True)), [id_col, "wpos"], "left"
    )
    return flagged.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.expr(
                "transform(array_sort(collect_list("
                "  CASE WHEN _cov IS NULL THEN struct(wpos, word) END)),"
                " s -> s.word)"
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.count_if(F.col("_cov").isNotNull()).alias("n_removed"),
    )


def lm_trigram_model(ref: DataFrame, text_col: str = "text") -> DataFrame:
    """Character-trigram counts from a reference corpus — the model half of
    CCNet-style LM quality filtering (Wenzek et al. 2020): score candidate
    documents by their likelihood under a model of known-good text.

    Returns ``(gram, n)`` with multiplicity counts. Bounded by the charset
    cubed regardless of corpus size, so the model always broadcasts; at
    100 TB train on a sample — trigram frequencies converge long before
    full data (same argument as the IVF codebook).
    """
    grams = ref.select(
        F.explode(F.expr(_char_kgrams_sql(quote_ident(text_col), 3))).alias("gram")
    )
    return grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n"))


def lm_score(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Mean negative log-likelihood per character trigram under an add-one
    smoothed conditional model built from ``lm_trigram_model`` output:
    ``P(c3 | c1c2) = (count(gram) + 1) / (count(context) + V)`` with ``V``
    the model's distinct-third-character count. Low ``nll_e6`` = text that
    looks like the reference corpus; perplexity is ``exp(nll_e6 / 1e6)``.

    Engine determinism: each trigram's log-likelihood is quantized to an
    integer (``floor(ln(p) * 1e6)``) BEFORE the per-document sum, so the
    aggregate is an order-independent integer sum — the one double
    (``ln`` of an integer ratio) is floor-e6-stable across engines
    (verified on 200k ratio samples; raw ln doubles differ in the last
    ulp ~6% of the time, the e6 floor never did).

    Scale: the model and its derived context table broadcast (bounded by
    charset^3); the corpus side is one scan + explode + broadcast joins +
    one groupBy on the document id. No Python, no driver collect — V rides
    a 1-row broadcast.
    """
    ctx_counts = model.groupBy(
        F.substring("gram", 1, 2).alias("cx")
    ).agg(F.sum("n").alias("cn"))
    v = model.select(F.countDistinct(F.substring("gram", 3, 1)).alias("v"))
    # project to the two needed columns up front: the joins below introduce
    # n/cx/cn/v and must never collide with caller columns of those names
    df = df.select(id_col, text_col)
    doc_grams = df.select(
        F.col(id_col),
        F.explode(F.expr(_char_kgrams_sql(quote_ident(text_col), 3))).alias("gram"),
    )
    joined = (
        doc_grams.join(F.broadcast(model), "gram", "left")
        .withColumn("cx", F.substring("gram", 1, 2))
        .join(F.broadcast(ctx_counts), "cx", "left")
        .crossJoin(F.broadcast(v))
    )
    ll_e6 = F.floor(
        F.log(
            (F.coalesce(F.col("n"), F.lit(0)) + 1).cast("double")
            / (F.coalesce(F.col("cn"), F.lit(0)) + F.col("v")).cast("double")
        )
        * F.lit(1e6)
    ).cast("long")
    per_doc = (
        joined.select(F.col(id_col), ll_e6.alias("ll_e6"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum("ll_e6").alias("s"),
        )
    )
    return per_doc.select(
        id_col, "n_trigrams", F.expr("(-s) div n_trigrams").alias("nll_e6")
    )


def curate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold_e6: int = 800_000,
    contamination_n: int = 8,
    near_dup: str = "exact",
    quality: str = "basic",
    boilerplate: str | None = None,
) -> DataFrame:
    """End-to-end training-corpus curation — the standard cleaning cascade
    (C4/RefinedWeb-style) composed from this module's operators, cheapest
    filter first so each stage shrinks the next stage's input:

    1. **quality gate** — ``quality_metrics().quality_ok`` (length, token
       count, alpha ratio); pure scan-side expressions, no shuffle;
       ``quality="gopher"`` additionally requires the full Gopher A1.1
       verdict (``gopher_quality_stats().passes_gopher`` — word count,
       mean word length, symbol/bullet/ellipsis ratios, alpha-word
       fraction, required stopwords; x114) via one id semi-join;
    2. **language gate** — ``predict_language() == 'en'``; scan-side;
    2b. **boilerplate removal** (``boilerplate="segment"``) —
       ``segment_frequency_filter`` rewrites every surviving document,
       dropping ALL copies of corpus-over-frequent 8-word segments
       (CCNet §4.1 / RefinedWeb G.2: nav menus and license headers
       vanish everywhere, BEFORE dedup so boilerplate cannot glue
       otherwise-distinct documents into near-dup pairs); ``n_tokens``
       is recomputed on the cleaned text;
    3. **exact dedup** — keep the min-id canonical per ``md5(text)``;
    4. **near-dedup** — ``ngram_jaccard_pairs`` at ``jaccard_threshold_e6``;
       of each (d1 < d2) pair the higher id is dropped (the module's
       keep-earliest convention); ``near_dup="minhash"`` swaps this stage
       for ``minhash_lsh_pairs`` (same pair contract, banded candidates
       instead of the shared-shingle self-join — the 100 TB shape);
    5. **decontamination** — drop documents sharing any
       ``contamination_n``-token word n-gram with ``benchmark``.

    Returns the surviving rows as ``(id_col, source, n_tokens)``.

    Scale: stages 1-2 are embarrassingly parallel; stage 3 is one uniform
    hash shuffle; stages 4-5 are bounded equi-joins (shared shingles /
    grams, never n^2) running on the already-filtered remnant — at 100 TB
    pass ``near_dup="minhash"`` (candidates per band bucket, LSH recall
    semantics; the default exact path is what the x79 oracle pins) and
    hash the grams before the stage-5 shuffle.
    """
    if quality not in ("basic", "gopher"):
        raise ValueError(f"quality must be 'basic' or 'gopher', got {quality!r}")
    if boilerplate not in (None, "segment"):
        raise ValueError(
            f"boilerplate must be None or 'segment', got {boilerplate!r}"
        )
    scored = predict_language(quality_metrics(corpus, text_col), text_col)
    keep1 = scored.filter(
        F.col("quality_ok") & (F.col("predicted_lang") == "en")
    ).select(id_col, "source", text_col, "n_tokens")
    if quality == "gopher":
        gq = (
            gopher_quality_stats(corpus, text_col, id_col)
            .filter(F.col("passes_gopher"))
            .select(id_col)
        )
        keep1 = keep1.join(gq, id_col, "left_semi")
    if boilerplate == "segment":
        cleaned = segment_frequency_filter(
            keep1, seg_words=8, max_occurrences=1,
            text_col=text_col, id_col=id_col,
        )
        keep1 = (
            keep1.drop(text_col, "n_tokens")
            .join(
                cleaned.select(
                    id_col, F.col("clean_text").alias(text_col)
                ),
                id_col,
            )
            .withColumn("n_tokens", token_count(text_col))
            .select(id_col, "source", text_col, "n_tokens")
        )
    canon = exact_dedup_groups(keep1, text_col, id_col).select(
        F.col("canonical_doc_id").alias(id_col)
    )
    keep2 = keep1.join(canon, id_col, "left_semi")
    if near_dup == "minhash":
        pairs = minhash_lsh_pairs(
            keep2, text_col, id_col, k=3, threshold_e6=jaccard_threshold_e6
        )
    elif near_dup == "exact":
        pairs = ngram_jaccard_pairs(
            keep2, text_col, id_col, k=3, threshold_e6=jaccard_threshold_e6
        )
    else:
        raise ValueError(f"near_dup must be 'exact' or 'minhash', got {near_dup!r}")
    near = pairs.select(F.col("d2").alias(id_col)).distinct()
    keep3 = keep2.join(near, id_col, "left_anti")
    flags = decontaminate(keep3, benchmark, n=contamination_n, text_col=text_col, id_col=id_col)
    kept = keep3.join(
        flags.filter(F.col("contaminated")).select(id_col), id_col, "left_anti"
    )
    return kept.select(id_col, "source", "n_tokens")


def split_leakage_guard(
    df: DataFrame,
    splits_e6: dict[str, int],
    eval_splits: tuple[str, ...] = ("val", "test"),
    threshold_e6: int = 800_000,
    k: int = 3,
    seed: int = 42,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_shingles: bool = True,
) -> DataFrame:
    """Split-aware contamination guard — the eval-honesty step after
    split assignment: find near-duplicate pairs that STRADDLE a train
    split and an eval split and flag the TRAIN member as leaked (eval
    rows are never touched, so metrics stay comparable across runs).
    The cross-split generalization of benchmark decontamination
    (``decontaminate``); without it a near-copy of a test document
    trains the model on its own eval set.

    Returns ``(id_col, split, leaked)`` for EVERY input row: consumers
    train on ``split = 'train' AND NOT leaked``. Splits come from
    ``sampling.shuffle_split`` (deterministic md5 ladder, same seed
    semantics); near-dup pairs from ``ngram_jaccard_pairs`` at
    ``threshold_e6``. A pair wholly inside train or wholly inside eval
    is NOT leakage (in-split dedup is a separate concern — ``curate``).

    Scale: split assignment is a per-row hash (no shuffle); candidate
    pairs are the bounded shingle equi-join (hash the shingles at scale
    — default on); the flag is two joins on the pair frame plus one
    distinct, all tiny relative to the corpus.
    """
    from .sampling import shuffle_split

    splits = shuffle_split(
        df.select(id_col), splits_e6, id_col=id_col, seed=seed
    ).select(id_col, "split")
    base = df.select(id_col, text_col).join(splits, id_col)
    pairs = ngram_jaccard_pairs(
        base, text_col, id_col, k=k, threshold_e6=threshold_e6,
        hash_shingles=hash_shingles,
    )
    s1 = splits.select(
        F.col(id_col).alias("d1"), F.col("split").alias("_s1")
    )
    s2 = splits.select(
        F.col(id_col).alias("d2"), F.col("split").alias("_s2")
    )
    tagged = pairs.join(s1, "d1").join(s2, "d2")
    ev1 = F.col("_s1").isin(*eval_splits)
    ev2 = F.col("_s2").isin(*eval_splits)
    leaked = (
        tagged.filter(ev1 != ev2)
        .select(F.when(ev1, F.col("d2")).otherwise(F.col("d1")).alias(id_col))
        .distinct()
        .withColumn("_leak", F.lit(True))
    )
    return splits.join(leaked, id_col, "left").select(
        id_col,
        "split",
        F.coalesce("_leak", F.lit(False)).alias("leaked"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken 2003 —
    the MOSS local fingerprinting scheme): hash every character k-gram,
    slide a window of ``w`` consecutive hashes, keep each window's MIN.

    Guarantee: any shared substring of length >= k + w - 1 between two
    documents shares at least one selected fingerprint — so overlap
    detection is passage-LOCAL (minhash/simhash are whole-document). The
    selected set is (doc_id, pos, fp) rows, deduped; density ~ 2/(w+1).

    Spark shape: one posexplode of the k-gram hash array, one window MIN
    ordered by position (partitioned per doc — the window never crosses
    documents, so it parallelizes per doc and needs no global sort), one
    distinct. ``hash_fn='md5'`` gives the DuckDB-twin variant (x77); the
    xxhash64 default is the production path.
    """
    from pyspark.sql import Window

    q = quote_ident(text_col)
    h = h60(F.col("gram")) if hash_fn == "md5" else F.xxhash64("gram")
    grams = (
        # Docs shorter than one full window (k + w - 1 chars) select no
        # fingerprints — filter them before the explode.
        df.filter(F.length(text_col) >= k + w - 1)
        .select(
            F.col(id_col),
            # gram count derives from the length already on the row — no
            # window COUNT pass over the exploded rows needed
            F.expr(f"length({q}) - {k - 1}").alias("n"),
            F.posexplode(F.expr(_char_kgrams_sql(q, k))).alias("_p", "gram"),
        )
        .select(id_col, (F.col("_p") + 1).alias("pos"), h.alias("h"), "n")
    )
    win = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    sel = (
        grams.withColumn("m", F.min(F.struct("h", "pos")).over(win))
        .filter(F.col("pos") <= F.col("n") - w + 1)  # full windows only
        .select(id_col, F.col("m.pos").alias("pos"), F.col("m.h").alias("fp"))
        .distinct()
    )
    return sel


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints —
    passage-level near-dup candidates with localization available from the
    fingerprint positions. The join is a fingerprint-value equi-join
    (bounded by shared-fp pairs, never n^2), same scale posture as the
    shingle join; at 100 TB bucket the fp table by fp."""
    fps = winnow_fingerprints(df, text_col, id_col, k, w, hash_fn).select(
        id_col, "fp"
    ).distinct()
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (_qualified("a", id_col) < _qualified("b", id_col)),
        )
        .groupBy(
            _qualified("a", id_col).alias("d1"), _qualified("b", id_col).alias("d2")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def vocab_coverage(
    df: DataFrame,
    vocab_size: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenizer-prep vocabulary coverage: build the top-``vocab_size``
    whitespace-token vocabulary by ``(count DESC, token ASC)`` — the
    deterministic tie order — and report per-document OOV statistics
    ``(id_col, n_tokens, n_oov, oov_rate_e6)``.

    This is the first question a tokenizer build asks of a corpus ("what
    does a V-word vocab leave uncovered?"); the e6 integer rate keeps the
    ratio engine-exact.

    Relational shape: one map-side-combinable token count shuffle, a
    TakeOrdered top-V (V is bounded — this is the one deliberately tiny
    relation), an explicit broadcast of the V-row vocab into the token
    stream, one doc-id aggregation. The fact-side token explode never
    shuffles on the token itself.
    """
    if vocab_size <= 0:
        raise ValueError("vocab_size must be positive")
    # NULL text coalesces to '' (one empty token) so every document keeps
    # an output row — explode(NULL) would silently drop it.
    toks = df.select(
        F.col(id_col),
        F.explode(F.expr(_words_sql(quote_ident(text_col), null_empty=True))).alias("tok"),
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .select("tok", F.lit(True).alias("_in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_if(F.col("_in_vocab").isNull()).alias("n_oov"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_oov",
            F.expr(f"n_oov * {SCALE} div n_tokens").alias("oov_rate_e6"),
        )
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """Adjacent-symbol pair statistics for the FIRST BPE merge step
    (Sennrich et al. 2016, arXiv:1508.07909 §3.2): tokenize on whitespace,
    count each word once per occurrence, and for every within-word
    adjacent character pair report the corpus-wide occurrence count —
    the table a tokenizer trainer ranks to pick its first merge.

    Returns ``(a, b, n_occurrences)``, one row per distinct character
    pair. Counting runs over the word-FREQUENCY table, not the raw token
    stream: distinct words are orders of magnitude fewer than tokens, so
    the character explode fans out from the small relation and the pair
    aggregation ships character-pair partials only. Words shorter than 2
    characters carry no pairs and are filtered before the explode.

    Scale: two map-side-combinable shuffles (word counts, then pair
    counts over |alphabet|^2-bounded keys); everything is codegen
    expressions.
    """
    pairs = _bpe_word_freq(df, text_col, lowercase).select(
        F.explode(F.expr(_char_kgrams_sql("word", 2))).alias("p"), "n"
    )
    return pairs.groupBy(
        F.substring("p", 1, 1).alias("a"), F.substring("p", 2, 1).alias("b")
    ).agg(F.sum("n").cast("long").alias("n_occurrences"))


def decontaminate_fuzzy(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold_e6: int = 800_000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Fuzzy benchmark decontamination: flag corpus documents whose
    signature-estimated Jaccard against ANY benchmark document reaches
    ``threshold_e6`` — the paraphrase-tolerant complement to
    ``decontaminate`` (exact n-gram containment misses light rewording;
    GPT-3 appendix-C-style fuzzy checks catch it).

    Returns ``(id_col, contaminated, max_jaccard_e6)`` for EVERY corpus
    document. ``max_jaccard_e6`` is the max estimate over ALL band
    candidates (0 only when no benchmark doc shares a band bucket), so
    sub-threshold near-misses stay visible for triage; the threshold only
    classifies ``contaminated``.

    Relational shape: MinHash signatures both sides (q48 seeds), band
    join corpus-vs-benchmark only — the benchmark band table and
    signature table are BROADCAST (benchmarks are bounded, ~1e4 docs,
    while the corpus side scales); estimate from signature agreement like
    minhash_estimate_pairs — the corpus documents are never re-read after
    signing. No corpus-vs-corpus pairing at all, so cost is linear in
    corpus size at any scale.
    """
    # same signature barrier as minhash_estimate_pairs (round-10): each
    # side's signature frame feeds its band stack AND its agreement side
    sig_c = minhash_signatures(
        corpus, text_col, id_col, k, num_hashes, hash_fn
    ).localCheckpoint(eager=False)
    sig_b = minhash_signatures(
        benchmark, text_col, id_col, k, num_hashes, hash_fn
    ).localCheckpoint(eager=False)
    st_c = lsh_band_stack(sig_c, id_col, num_hashes, bands, hash_fn)
    st_b = lsh_band_stack(sig_b, id_col, num_hashes, bands, hash_fn)
    cand = (
        st_c.alias("c")
        .join(
            F.broadcast(st_b.alias("b")),
            (F.col("c.band") == F.col("b.band"))
            & (F.col("c.bucket") == F.col("b.bucket")),
        )
        .select(
            _qualified("c", id_col).alias("cid"), _qualified("b", id_col).alias("bid")
        )
        .distinct()
    )
    est = _signature_agreement_e6(
        cand, sig_c, sig_b, "cid", "bid", id_col, num_hashes, ("cid",),
        broadcast_b=True,
    )
    hits = est.groupBy("cid").agg(F.max("jaccard_e6").alias("mx"))
    return (
        corpus.select(id_col)
        .join(hits, F.col(id_col) == F.col("cid"), "left")
        .select(
            id_col,
            (F.coalesce("mx", F.lit(0)) >= threshold_e6).alias("contaminated"),
            F.coalesce("mx", F.lit(0).cast("bigint")).alias("max_jaccard_e6"),
        )
    )


def dsir_weights(
    corpus: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169):
    score each raw-corpus document by the log-likelihood ratio of its
    hashed word-feature buckets under the TARGET distribution vs the RAW
    distribution — the standard "select pretraining data that looks like
    the target domain" estimator.

    Features are word unigrams + bigrams (with multiplicity), hashed into
    ``n_buckets`` via the cross-engine-exact md5 ``h60`` (sketches.py);
    bucket probabilities are add-one smoothed. Each bucket's
    ``llr_e6 = floor(ln((c_t+1)/(T_t+B)) * 1e6) - floor(ln((c_r+1)/(T_r+B)) * 1e6)``
    — per-term floor-e6 integer quantization BEFORE the document sum (the
    lm_score discipline: ln of an integer ratio is floor-e6-stable across
    engines, and integer sums are order-independent), and the two-term
    form never multiplies counts together, so nothing overflows at any
    corpus size.

    Returns ``(id_col, n_feats, logw_e6)`` for every corpus document
    (NULL text = one empty-token feature; divide ``logw_e6`` by
    ``n_feats`` for a length-normalized score, or feed the weights to
    ``token_budget_select`` / ``exact_quota_sample`` for the resample
    step).

    Scale: the bucket tables are bounded by ``n_buckets`` and broadcast;
    the corpus side is one feature explode + one broadcast join + one
    doc-id groupBy — no feature-keyed shuffle at all (the bucket counts
    shuffle ≤ B rows after map-side combine).
    """
    B = n_buckets
    cb = _hashed_word_features(corpus, text_col, [id_col], B, distinct=False)
    tb = _hashed_word_features(target, text_col, [], B, distinct=False)
    rc = cb.groupBy("b").agg(F.count(F.lit(1)).alias("rn"))
    tc = tb.groupBy("b").agg(F.count(F.lit(1)).alias("tn"))
    tr = rc.select(F.coalesce(F.sum("rn"), F.lit(0)).alias("tr"))
    tt = tc.select(F.coalesce(F.sum("tn"), F.lit(0)).alias("tt"))
    lr = (
        rc.join(F.broadcast(tc), "b", "left")
        .crossJoin(F.broadcast(tr))
        .crossJoin(F.broadcast(tt))
        .select(
            "b",
            (
                F.floor(
                    F.log(
                        (F.coalesce(F.col("tn"), F.lit(0)) + 1).cast("double")
                        / (F.col("tt") + B).cast("double")
                    )
                    * F.lit(1e6)
                )
                - F.floor(
                    F.log(
                        (F.col("rn") + 1).cast("double")
                        / (F.col("tr") + B).cast("double")
                    )
                    * F.lit(1e6)
                )
            ).cast("long").alias("llr_e6"),
        )
    )
    return (
        cb.join(F.broadcast(lr), "b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("llr_e6").alias("logw_e6"),
        )
    )


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Per-group corpus report card — the before/after summary every
    curation run is judged by: document and token volume, exact-duplicate
    count, quality-gate pass share, English share, mean alpha ratio (all
    shares e6 fixed-point, integer-exact across engines).

    One scan (quality + language are scan-side expressions), one groupBy
    on the grouping column; the only extra shuffle is the per-group
    COUNT(DISTINCT md5) for the dup count — uniform 128-bit keys.
    """
    scored = predict_language(quality_metrics(df, text_col), text_col)
    return scored.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_tokens").cast("bigint")).alias("n_tokens"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5(F.col(text_col)))).alias(
            "n_exact_dups"
        ),
        F.expr(f"count_if(quality_ok) * {SCALE} div count(*)").alias(
            "quality_ok_e6"
        ),
        F.expr(f"count_if(predicted_lang = 'en') * {SCALE} div count(*)").alias(
            "lang_en_e6"
        ),
        F.expr("sum(alpha_ratio_e6) div count(*)").alias("mean_alpha_e6"),
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Snapshot diff between two corpus versions by content hash: one row
    per document id present in either side, with ``status`` in
    {'added', 'removed', 'changed', 'unchanged'} — the audit every
    corpus release cut runs before shipping ("what moved since v1?").

    Comparison is md5-of-text, NULL-safe: text coalesces to '' before
    hashing (the package's NULL-text convention), so a NULL-vs-''
    rewrite reads as unchanged rather than crashing or misclassifying.
    Scale: two scans projected to (id, 128-bit hash) + one full outer
    equi-join on the id — never ships text.
    """
    h = lambda c: F.md5(F.coalesce(F.col(c), F.lit("")))
    o = old.select(F.col(id_col).alias("_oid"), h(text_col).alias("_oh"))
    nw = new.select(F.col(id_col).alias("_nid"), h(text_col).alias("_nh"))
    return (
        o.join(nw, F.col("_oid") == F.col("_nid"), "full_outer")
        .select(
            F.coalesce("_oid", "_nid").alias(id_col),
            F.when(F.col("_oid").isNull(), "added")
            .when(F.col("_nid").isNull(), "removed")
            .when(F.col("_oh") != F.col("_nh"), "changed")
            .otherwise("unchanged")
            .alias("status"),
        )
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 document ranking against a bag of query terms
    (Robertson & Zaragoza 2009, k1 = 1.2, b = 0.75) — the lexical
    retrieval primitive that pairs with the ANN family for hybrid search
    over a curated corpus.

    Per matching (doc, term): ``idf(t) * tf*(k1+1) / (tf + k1*(1 - b +
    b*dl/avgdl))`` with BM25+-style always-positive ``idf = ln(1 +
    (N - df + 0.5)/(df + 0.5))``. Returns ``(id_col, n_hits, score_e6)``
    for every document matching at least one term, descending-rankable.

    Engine determinism: with k1 = 6/5 and b = 3/4 the weight fraction
    clears to the integer ratio ``44*T*tf / (20*T*tf + 6*T + 18*dl*N)``
    (T = corpus token total, so avgdl never materializes as a double);
    idf is floor-e6-quantized per TERM, each (doc, term) score is
    ``floor(ratio * idf_e6)`` — one identical IEEE division+multiply per
    pair on both engines — and the per-doc sum is an integer sum,
    order-independent. Exactness bound: ``44*T*tf`` must stay under
    2^53 (T*tf < 2e14 — far past any bench scale; at true 100 TB token
    counts, shard T per corpus partition or accept last-ulp risk).

    Scale: one token explode filtered to the broadcast-literal term set
    (the explode-side filter prunes before any shuffle), a per-term df
    aggregate bounded by |query|, a per-doc (dl) aggregate, one join —
    no all-terms inverted index is ever built.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted({t.lower() for t in query_terms})
    terms_sql = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    toks = df.select(
        F.col(id_col),
        F.expr(_words_sql(quote_ident(text_col), lower=True, null_empty=True)).alias("t"),
    )
    dl = toks.select(id_col, F.size("t").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").cast("long").alias("tt")
    )
    hits = toks.select(
        id_col,
        F.explode(F.expr(f"filter(t, x -> x IN ({terms_sql}))")).alias("term"),
    )
    tf = hits.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = docfreq.crossJoin(F.broadcast(stats)).select(
        "term", "df",
        F.floor(
            F.log(
                F.lit(1.0)
                + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            )
            * F.lit(1_000_000.0)
        ).cast("long").alias("idf_e6"),
    )
    scored = (
        tf.join(F.broadcast(idf), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            F.floor(
                (F.lit(44.0) * F.col("tt") * F.col("tf"))
                / (
                    F.lit(20.0) * F.col("tt") * F.col("tf")
                    + F.lit(6.0) * F.col("tt")
                    + F.lit(18.0) * F.col("dl") * F.col("n")
                )
                * F.col("idf_e6")
            ).cast("long").alias("s_e6"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.sum("s_e6").cast("long").alias("score_e6"),
    )


def rrf_fuse(
    ranked: list[DataFrame],
    k0: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rnk",
) -> DataFrame:
    """Reciprocal-rank fusion of retrieval lists (Cormack, Clarke &
    Büttcher 2009) — the standard hybrid-search combiner: each list
    contributes ``1 / (k0 + rank)`` for the documents it ranked, and
    documents are re-ranked by the sum. Pairs :func:`bm25_scores`
    (lexical) with the ANN family (dense) without any score calibration
    — only ranks matter, which is why RRF survives heterogeneous
    retrievers.

    Returns ``(id_col, rrf_e6, n_lists, fused_rank)`` over the union of
    the input lists' documents: ``rrf_e6 = sum_lists 1_000_000 div
    (k0 + rank)`` — integer floor division per term, so fused scores are
    exact integers and cross-engine ranking never hinges on float sums;
    ``n_lists`` = how many lists retrieved the doc; ``fused_rank``
    breaks score ties by ascending id.

    Scale: inputs are top-k lists (bounded — the retrievers already did
    the data-sized work), so this is a union + one groupBy + one window
    over at most ``sum(len(list))`` rows; the window's single partition
    is bounded by construction, never by corpus size.
    """
    from pyspark.sql import Window

    if not ranked:
        raise ValueError("ranked must be a non-empty list of DataFrames")
    if k0 < 0:
        raise ValueError("k0 must be >= 0")
    contribs = None
    for df in ranked:
        # integer floor division (div): identical longs in Spark and
        # DuckDB (//), the catalog's fixed-point ratio convention
        c = df.select(
            F.col(id_col),
            F.expr(f"1000000 div ({k0} + {quote_ident(rank_col)})").cast("long").alias("_c"),
        )
        contribs = c if contribs is None else contribs.unionByName(c)
    fused = contribs.groupBy(id_col).agg(
        F.sum("_c").alias("rrf_e6"),
        F.count(F.lit(1)).cast("long").alias("n_lists"),
    )
    # bounded single-partition window: the frame is the union of top-k
    # lists, never corpus-sized
    w = Window.orderBy(F.desc("rrf_e6"), F.asc(id_col))
    return fused.withColumn("fused_rank", F.row_number().over(w))


def _bpe_word_freq(df: DataFrame, text_col: str, lowercase: bool) -> DataFrame:
    """``(word, n)`` frequency table :func:`bpe_train` collects: whitespace
    tokenization (Java ``\\s``), optional lowercase, length >= 2 (length-1
    words carry no pairs). Its first pair statistics are exactly
    ``bpe_pair_counts`` (the DuckDB-oracled x93)."""
    words = df.select(
        F.explode(F.expr(_words_sql(quote_ident(text_col), null_empty=True))).alias("word")
    )
    if lowercase:
        words = words.select(F.lower(F.col("word")).alias("word"))
    return (
        words.filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 1024,
    text_col: str = "text",
    lowercase: bool = True,
    min_pair_count: int = 2,
    max_distinct_words: int = 5_000_000,
) -> DataFrame:
    """BPE tokenizer training (Sennrich et al. 2016, arXiv:1508.07909
    Algorithm 1): iteratively find the corpus-wide most frequent adjacent
    symbol pair and merge it, ``n_merges`` times.

    Returns the learned merge table ``(rank, a, b, merged,
    n_occurrences)`` with ``rank`` starting at 1 in merge order — the
    artifact a tokenizer ships (merges.txt). Ties on count break on
    ``(a, b)`` lexicographically (Python code-point string order equals
    Spark's unsigned-byte UTF-8 order) so training is deterministic;
    merging stops early when no pair reaches ``min_pair_count``. The full
    sequence is pinned against a pure-Python reference in tests.

    The merge loop runs DRIVER-SIDE over the collected word-frequency
    table — the standard production shape (HuggingFace tokenizers,
    SentencePiece train the same way): the corpus is scanned distributed
    exactly once to build ``(word, n)``, and everything after is bounded
    by |vocab|, not |corpus|. Each merge is an O(touched words) in-memory
    update: a pair -> words inverted index finds exactly the words
    containing the chosen pair, and a lazy-deletion heap yields the
    argmax without rescanning pair counts. A one-Spark-job-per-merge loop
    took 26.9 s for the 89 merges this loop learns in 1.0 s
    (PERF_BPE_PATHS.json).

    Driver memory bound: the collect is the DISTINCT-WORD table, not the
    corpus — |vocab| * avg word length. Real web corpora hold this in the
    tens of millions of rows (~GBs); ``max_distinct_words`` (default 5M)
    makes the bound explicit and fails loudly instead of OOMing the
    driver. For corpora beyond it, pre-truncate the tail (words with
    n == 1 cannot win a merge while any pair reaches ``min_pair_count``
    >= 2 twice... they still contribute counts, so we do NOT silently
    drop them — raise and let the caller decide).
    """
    import heapq
    from collections import Counter

    wf_df = _bpe_word_freq(df, text_col, lowercase).localCheckpoint(eager=True)
    n_distinct = wf_df.count()
    if n_distinct > max_distinct_words:
        raise ValueError(
            f"corpus has {n_distinct} distinct words > max_distinct_words="
            f"{max_distinct_words}; raise the bound (driver memory permitting) "
            "or pre-filter the tail before training"
        )
    rows = wf_df.collect()
    words: list[list[str]] = [list(r["word"]) for r in rows]
    counts: list[int] = [r["n"] for r in rows]

    pair_counts: Counter = Counter()
    pair_words: dict[tuple[str, str], set[int]] = {}
    for i, toks in enumerate(words):
        n = counts[i]
        for j in range(len(toks) - 1):
            p = (toks[j], toks[j + 1])
            pair_counts[p] += n
            pair_words.setdefault(p, set()).add(i)

    # lazy-deletion heap: push (-cnt, a, b) on EVERY count change; a popped
    # entry is valid iff it matches the live count.
    heap = [(-c, a, b) for (a, b), c in pair_counts.items()]
    heapq.heapify(heap)

    def _word_pairs(toks: list[str]) -> Counter:
        c: Counter = Counter()
        for j in range(len(toks) - 1):
            c[(toks[j], toks[j + 1])] += 1
        return c

    merges: list[tuple] = []
    out_schema = "rank INT, a STRING, b STRING, merged STRING, n_occurrences BIGINT"
    for rank in range(1, n_merges + 1):
        best = None
        while heap:
            negc, a, b = heapq.heappop(heap)
            if pair_counts.get((a, b), 0) == -negc and -negc > 0:
                best = (a, b, -negc)
                break
        if best is None or best[2] < min_pair_count:
            break
        a, b, cnt = best
        merges.append((rank, a, b, a + b, cnt))
        touched = pair_words.get((a, b), set())
        for i in list(touched):
            toks = words[i]
            n = counts[i]
            before = _word_pairs(toks)
            # greedy left-to-right merge (non-overlapping, like the
            # reference's re.sub): ``a a a`` under (a, a) -> ``aa a``
            out: list[str] = []
            for t in toks:
                if out and out[-1] == a and t == b:
                    out[-1] = a + b
                else:
                    out.append(t)
            words[i] = out
            after = _word_pairs(out)
            for p in before.keys() | after.keys():
                d = after[p] - before[p]
                if d:
                    pair_counts[p] += d * n
                    c = pair_counts[p]
                    if c <= 0:
                        del pair_counts[p]
                    else:
                        heapq.heappush(heap, (-c, p[0], p[1]))
                if after[p] == 0 and before[p] > 0:
                    ws = pair_words.get(p)
                    if ws is not None:
                        ws.discard(i)
                elif after[p] > 0 and before[p] == 0:
                    pair_words.setdefault(p, set()).add(i)
        # the merged pair itself is gone everywhere
        pair_counts.pop((a, b), None)
        pair_words.pop((a, b), None)
    return df.sparkSession.createDataFrame(merges, out_schema)


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """Tokenize documents with a learned BPE merge list (rank order) —
    the inference half of :func:`bpe_train`: each whitespace word becomes
    the word-boundary marker ``▁`` plus its characters, then every merge
    applies in rank order, greedy left-to-right per merge.

    Returns ``(id_col, tokens, n_tokens)`` where ``tokens`` is the
    space-joined symbol string — flat strings, so the result is driver-
    and sink-friendly. Cost is flat in the merge count: the merge list
    ships once in the task closure (a 50k-merge vocabulary is ~1 MB),
    where a Catalyst fold per merge grew linearly (8x slower at 89
    merges, PERF_BPE_PATHS.json).

    Merges are pinned against a pure-Python reference in tests. Rank-order
    application equals the min-rank-bigram loop of standard BPE encoders
    because merging rank k only creates adjacencies involving its output
    symbol, and any pair containing that symbol was necessarily learned
    AFTER rank k. Words memoize within a batch (Zipf: a handful of
    distinct words dominate any real batch).

    Scale: embarrassingly parallel mapInPandas — no shuffle, no state;
    the output schema carries the CALLER's id column name and type.
    """
    import re

    import pandas as pd

    id_field = df.schema[id_col]
    out_schema = StructType([
        id_field,
        StructField("tokens", StringType()),
        StructField("n_tokens", LongType()),
    ])
    pairs = list(merges)
    # Java \s is ASCII-only ([ \t\n\x0B\f\r]) while Python str.split()
    # splits on all Unicode whitespace (e.g. U+00A0) — split on the Java
    # class explicitly so words match the trainer's _bpe_word_freq, and
    # drop the empties a leading/trailing separator leaves.
    _java_ws = re.compile(r"[ \t\n\x0B\f\r]+")

    def encode_word(w: str) -> list[str]:
        toks = ["▁", *w]
        for a, b in pairs:
            out: list[str] = []
            for t in toks:
                if out and out[-1] == a and t == b:
                    out[-1] = a + b
                else:
                    out.append(t)
            toks = out
        return toks

    def run(batches):
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            tokens_col, n_col = [], []
            for text in pdf[text_col]:
                toks: list[str] = []
                words = "" if text is None else text
                if lowercase:
                    words = words.lower()
                for w in _java_ws.split(words):
                    if not w:
                        continue
                    got = cache.get(w)
                    if got is None:
                        got = cache[w] = encode_word(w)
                    toks.extend(got)
                tokens_col.append(" ".join(toks))
                n_col.append(len(toks))
            yield pd.DataFrame({
                id_field.name: pdf[id_col],
                "tokens": tokens_col,
                "n_tokens": n_col,
            })

    return df.select(id_col, text_col).mapInPandas(run, out_schema)


def _hashed_word_features(
    df: DataFrame, text_col: str, id_cols, n_buckets: int, distinct: bool = True
) -> DataFrame:
    """Hashed bag-of-words features: (id, bucket) pairs over word unigrams
    + bigrams, hashed with the cross-engine h60 into ``n_buckets`` —
    distinct (presence-only, the classifier) or with multiplicity
    (``dsir_weights``)."""
    if isinstance(id_cols, str):
        id_cols = [id_cols]
    words = _words_sql(quote_ident(text_col), null_empty=True)
    arr = _let_sql(words, f"concat(ws, {_word_ngrams_sql('ws', 2)})")
    out = df.select(*id_cols, F.explode(F.expr(arr)).alias("g")).select(
        *id_cols, (h60(F.col("g")) % n_buckets).alias("b")
    )
    return out.distinct() if distinct else out


def quality_classifier_train(
    corpus: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    n_iters: int = 15,
    lr: float = 2.0,
    train_sample_e6: int | None = None,
    seed: int = 42,
) -> list[int]:
    """Train the GPT-3-style discriminative quality classifier (Brown et
    al. 2020 appendix A: a linear classifier separating the curated
    target corpus from raw data, used to filter pretraining data):
    logistic regression on binary hashed unigram+bigram features, target
    docs labeled 1 and corpus docs 0, by full-batch gradient descent.

    Returns the learned weights as a plain list of ``n_buckets + 1``
    integers in e6 fixed point (index 0 = bias, index b+1 = bucket b) —
    feed it to ``quality_classifier_score``. The discriminative
    counterpart of ``dsir_weights``' generative LLR estimator.

    Determinism: weights live in e6 INTEGERS on the driver; per doc the
    margin is an exact integer sum of its buckets' weights, the residual
    ``floor((sigmoid(z) - y) * 1e6)`` re-quantizes before the per-bucket
    gradient sum, so every distributed sum is an order-independent
    integer and training is bit-reproducible at any parallelism (the
    only floats are the driver-side update and one sigmoid per doc from
    identical integer inputs).

    Scale: the feature table (|docs| x avg distinct buckets) is built
    once and localCheckpoint-ed with the bias as a constant feature
    (bucket -1 on every doc) — so each iteration is ONE broadcast join +
    doc groupBy (the margin, bias included), one doc-keyed join of the
    |docs|-row residual back onto features, and ONE bucket groupBy that
    combines map-side to <= n_buckets + 1 rows collected to the driver
    (the b = -1 row IS the bias gradient; no second collect). Weights
    (n_buckets e6 ints) always fit the driver by construction.

    ``train_sample_e6`` trains on a deterministic hash sample of both
    sides (e6 rate; the ``sampling`` module's engine-stable hash) — the
    standard sample-train / full-score split when the raw corpus is
    orders of magnitude bigger than what the classifier needs; scoring
    (``quality_classifier_score``) always runs over the full corpus.
    """
    if train_sample_e6 is not None:
        from .sampling import deterministic_sample

        corpus = deterministic_sample(corpus, train_sample_e6, id_col=id_col, seed=seed)
        target = deterministic_sample(target, train_sample_e6, id_col=id_col, seed=seed)
    doc_feats = _classifier_doc_feats(corpus, target, text_col, id_col, n_buckets)
    n_docs = doc_feats.count()
    if n_docs == 0:
        return [0] * (n_buckets + 1)

    w = [0] * (n_buckets + 1)  # e6 ints; [0] is the bias

    for _ in range(n_iters):
        r = _classifier_residual(w)
        # persist barrier: projection collapse would otherwise push the
        # margin fold through the explode and recompute it per exploded
        # row (measured 2.7x); the cache fills inside the gradient job
        # itself, so each iteration is exactly one job
        rdf = doc_feats.select(r.alias("r_e6"), "bs").persist()
        try:
            grad_rows = (
                rdf.select("r_e6", F.explode("bs").alias("b"))
                .groupBy("b")
                .agg(F.sum("r_e6").alias("g_e6"))
                .collect()
            )
        finally:
            rdf.unpersist()
        for row in grad_rows:
            w[row["b"] + 1] -= int(round(lr * row["g_e6"] / n_docs))
    return w


def _classifier_doc_feats(
    corpus: DataFrame,
    target: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int,
) -> DataFrame:
    """The trainer's per-doc feature frame ``(y, bs)``, checkpointed:
    bias as the constant feature b = -1 on every doc, and the whole
    feature table folded to ONE ROW PER DOC (bucket array + label) — an
    iteration is then a single job: margin and residual are per-row
    expressions against the literal weight array (no join, no doc-keyed
    shuffle), and the only exchange is the gradient groupBy, which
    map-side combines to <= n_buckets + 1 rows before collecting (the
    b = -1 row IS the bias gradient; no second pass). AQE sizes the
    checkpointed frame's partitions to the data.

    Composite (_y, _id) doc key: corpus/target id spaces may overlap and
    the label disambiguates — no synthetic monotonic id, so no extra
    materialization is needed to keep the feats/labels join stable."""
    labeled = corpus.select(
        F.lit(0).alias("_y"), F.col(id_col).alias("_id"), F.col(text_col)
    ).unionByName(
        target.select(
            F.lit(1).alias("_y"), F.col(id_col).alias("_id"), F.col(text_col)
        )
    )
    return (
        _hashed_word_features(
            labeled, text_col, ["_y", "_id"], n_buckets, distinct=False
        )
        # collect_set = the distinct + list fold in ONE shuffle (set
        # order is nondeterministic, but every consumer below is an
        # order-independent integer sum)
        .groupBy("_y", "_id")
        .agg(F.collect_set("b").alias("bs"))
        .join(labeled.select("_y", "_id"), ["_y", "_id"], "right")
        .select(
            F.col("_y").alias("y"),
            F.concat(
                F.array(F.lit(-1)), F.coalesce(F.col("bs"), F.array())
            ).alias("bs"),
        )
        .localCheckpoint(eager=True)
    )


def _classifier_residual(w: list[int]):
    """Per-doc residual expression ``floor((sigmoid(z) - y) * 1e6)`` over
    a ``(y, bs)`` feature row, with the margin z an EXACT integer sum of
    the literal weight array's entries — the bit-reproducible core shared
    by the trainer loop and :func:`quality_classifier_grad`."""
    warr = F.lit([int(v) for v in w])
    z = F.aggregate(
        F.col("bs"),
        F.lit(0).cast("long"),
        lambda acc, b: acc + F.get(warr, b + F.lit(1)),
    )
    return F.floor(
        F.lit(1.0)
        / (
            F.lit(1.0)
            + F.exp(
                -F.greatest(
                    F.lit(-30.0), F.least(F.lit(30.0), z / F.lit(1e6))
                )
            )
        )
        * F.lit(1e6)
        - F.col("y") * F.lit(1e6)
    ).cast("long")


def quality_classifier_grad(
    corpus: DataFrame,
    target: DataFrame,
    weights_e6: list[int] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """ONE gradient step of :func:`quality_classifier_train`, exposed as
    a DataFrame ``(b, g_e6)`` — bucket -1 is the bias gradient — so the
    iteration's integer arithmetic is ORACLE-CHECKABLE: with the
    trainer's zero init (``weights_e6=None``) the margin is exactly 0,
    sigmoid(0) is exactly 0.5 in every engine (no libm exp in the data
    path), and the residual is the exact integer ``500000 - y*1000000``,
    so the per-bucket sums are cross-engine bit-identical. This pins the
    estimator's feature hashing, bias handling, and residual
    quantization in DuckDB SQL (the x93 one-iteration-BPE pattern);
    full training remains pytest-pinned (bit-determinism at any
    parallelism) since the LOOP has no SQL twin.

    Same scale shape as one trainer iteration: one explode + one
    map-side-combined bucket groupBy bounded at n_buckets + 1 rows.
    (The one-shot form skips the trainer's persist barrier — the margin
    recompute it avoids only matters when the frame is iterated.)"""
    w = weights_e6 if weights_e6 is not None else [0] * (n_buckets + 1)
    if len(w) != n_buckets + 1:
        raise ValueError(f"weights length {len(w)} != n_buckets + 1")
    doc_feats = _classifier_doc_feats(corpus, target, text_col, id_col, n_buckets)
    return (
        doc_feats.select(_classifier_residual(w).alias("r_e6"), "bs")
        .select("r_e6", F.explode("bs").alias("b"))
        .groupBy("b")
        .agg(F.sum("r_e6").alias("g_e6"))
    )


def quality_classifier_score(
    df: DataFrame,
    weights_e6: list[int],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents with a trained quality classifier: returns
    ``(id_col, score_e6)`` where score_e6 = floor(sigmoid(bias + sum of
    feature weights) * 1e6) — feed to ``token_budget_select`` /
    ``gumbel_topk_sample`` for the selection step, exactly like
    ``dsir_weights``. One broadcast join + one doc groupBy; documents
    with no features score sigmoid(bias)."""
    n_buckets = len(weights_e6) - 1
    spark = df.sparkSession
    wdf = F.broadcast(
        spark.createDataFrame(
            [(b, weights_e6[b + 1]) for b in range(n_buckets)], "b INT, w_e6 LONG"
        )
    )
    feats = _hashed_word_features(df, text_col, id_col, n_buckets)
    z = (
        feats.join(wdf, "b")
        .groupBy(id_col)
        .agg(F.sum("w_e6").alias("z_e6"))
    )
    return (
        df.select(id_col)
        .join(z, id_col, "left")
        .select(
            F.col(id_col),
            F.floor(
                F.lit(1e6)
                / (
                    F.lit(1.0)
                    + F.exp(
                        -F.greatest(
                            F.lit(-30.0),
                            F.least(
                                F.lit(30.0),
                                (F.coalesce(F.col("z_e6"), F.lit(0))
                                 + weights_e6[0]) / F.lit(1e6),
                            ),
                        )
                    )
                )
            ).cast("long").alias("score_e6"),
        )
    )


def canonicalize_text(c: str) -> Column:
    """Dedup canonical form (the RefinedWeb/C4 pre-hash normalization):
    lowercase, strip everything but [a-z0-9] and whitespace, collapse
    whitespace runs to one space, trim. Catches the trivial variants
    exact hashing misses (case, punctuation, spacing) while staying a
    pure Catalyst expression. Character classes are chosen to behave
    identically under Java regex (Spark) and RE2 (DuckDB oracle).
    NULL stays NULL (every step is NULL-preserving) so canonical dedup
    groups NULL-text docs under the same md5(NULL)=NULL-key semantics
    as the raw exact_dedup_groups.
    """
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(c)), r"[^a-z0-9\s]", ""), r"\s+", " "
        )
    )


def canonical_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``exact_dedup_groups`` over the canonicalized text: one shuffle on
    the 128-bit hash of the normal form. Same scale shape as the raw
    variant; strictly coarser groups (raw-equal implies canonical-equal).
    """
    return df.groupBy(
        F.md5(canonicalize_text(text_col)).alias("canonical_hash")
    ).agg(
        F.min(id_col).alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )
