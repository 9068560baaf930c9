"""LLM-training-data-pipeline catalog: dedup, text analysis, similarity
search over the ``documents`` and ``embeddings`` tables.

These are the scale-path operators a 100 TB pretraining pipeline needs
(BASELINE.json north-star). Implementations live in
``ecom_snowflake_duckdb_migration_spark.operators.text`` /
``operators.similarity``; this module binds them to oracle-checked catalog
entries.

Parity conventions:
- Ratios are fixed-point integers (``*_e6``): integer division is bit-stable
  across engines, rounded double division is not.
- Cosines are raw doubles. Every DuckDB oracle takes the fragments that more
  than one oracle needs from the builders below, so each fold rule is stated
  here and applied there, once:
  - 64-element folds (``_dot``, ``_norm``, ``_cos``, over columns or
    literal vectors) are ``list_sum(list_transform(...))``, bit-identical
    to Spark's left-to-right ``aggregate`` at that length.
  - Short sub-vector folds, and folds whose doubles land in the hashed
    output, are explicit left-assoc chains (``_fold``, ``_chain_dot``):
    ``list_sum`` diverges from the fold by an ulp at 16 elements, and once
    at 64 (x123's query-centroid dots).
  - Every literal double a fragment carries (vector elements, table
    entries, norms) is string-parsed (``_dbl``, ``_dbl_list``:
    ``CAST('<repr>' AS DOUBLE)``). DuckDB types a bare decimal literal
    DECIMAL, and its DECIMAL->DOUBLE cast is an ulp off for some 17-digit
    values.
  - Argmaxes are first-index (``_argmax``): the lowest cell or code on
    ties, as the operators' ``(score, -index)`` ``array_max``.
  - The other shared fragments: ``_hyperplane_sig`` (LSH signature),
    ``_cell_sims`` / ``_assign_ctes`` / ``_qsims_cte`` /
    ``_probe_cells_cte`` (literal-codebook cells and probes), ``_pq_code_ctes`` (PQ codes), ``_minhash_ctes``
    / ``_agree`` (md5 MinHash), ``_shingles_cte`` (char 3-shingle set),
    ``_shingle_overlap_ctes`` (exact-Jaccard inputs),
    ``_INT8_CTES`` (int8 quantization), ``_split_case`` (md5 split
    ladder) and ``_words`` (the word split, with the variants of the
    Spark operators' ``_words_sql``). The 60-bit md5 hash is
    ``sketches.o_h60``.
- LSH/SimHash variants depend on xxhash64 (no DuckDB twin) -> registered
  without oracle; tests/test_operators.py pins them against the exact
  algorithms instead.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import similarity as sim
from ..operators import text as tx
from ..operators.sketches import o_h60
from . import REGISTRY, load, register, run_sql

_EN = tx.LANG_STOPWORDS["en"]
_FR = tx.LANG_STOPWORDS["fr"]
_DE = tx.LANG_STOPWORDS["de"]
_ES = tx.LANG_STOPWORDS["es"]


# ---------------------------------------------------------------------------
# DuckDB oracle fragments (fold rules in the module docstring).
# ---------------------------------------------------------------------------


def _dbl(x: float) -> str:
    """Exact double literal: DuckDB parses the repr string exactly."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _dbl_list(vals: list[float]) -> str:
    return "[" + ", ".join(_dbl(v) for v in vals) + "]"


def _fold(terms, start: str = "CAST(0.0 AS DOUBLE)") -> str:
    """Explicit left-assoc chain ``((start + t0) + t1) + ...``."""
    acc = start
    for t in terms:
        acc = f"({acc} + {t})"
    return acc


def _chain_dot(a: str, b: list[str], offset: int = 0) -> str:
    """``_fold`` of ``a[offset + i] * b[i]``; ``b`` holds element SQL."""
    return _fold(f"CAST({a}[{offset + i}] AS DOUBLE) * {y}" for i, y in enumerate(b, 1))


def _dot(a: str, b: str, typ: str = "DOUBLE") -> str:
    """64-element dot of two list expressions, products in ``typ``."""
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1),"
        f" i -> CAST({a}[i] AS {typ}) * CAST({b}[i] AS {typ})))"
    )


def _norm(a: str) -> str:
    return f"sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


def _cos(a: str, b: str) -> str:
    return f"({_dot(a, b)} / ({_norm(a)} * {_norm(b)}))"


def _hyperplane_sig(vec: str, planes: list[list[float]]) -> str:
    """hyperplane_signature: bit i set iff ``vec`` is on the non-negative
    side of plane i."""
    return "(" + "\n             + ".join(
        f"(CASE WHEN {_dot(vec, f'({_dbl_list(p)})')} >= 0 THEN CAST({1 << i} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)"
        for i, p in enumerate(planes)
    ) + ")"


def _argmax(names: list[str], best: str) -> str:
    """Index of the first of ``names`` equal to ``best``."""
    return "CASE " + " ".join(
        f"WHEN {n} = {best} THEN {i}" for i, n in enumerate(names)
    ) + " END"


def _cell_sims(vec: str, cents: list[list[float]]) -> str:
    """SELECT-list ``s0 .. s{n-1}``: the cosine of ``vec`` to each centroid."""
    return ",\n               ".join(
        f"{_cos(vec, f'({_dbl_list(c)})')} AS s{i}" for i, c in enumerate(cents)
    )


def _assign_ctes(cents: list[list[float]], guard: bool = False) -> str:
    """``scored`` + ``assigned`` CTEs: each embeddings row's ``cell`` under
    the literal codebook and ``csim``, its cosine to that centroid.
    ``guard`` drops the rows assign_cell gives no cell (NULL and zero-norm
    vectors), for the operators that drop them."""
    names = [f"s{i}" for i in range(len(cents))]
    where = f"\n        WHERE best IS NOT NULL AND {_norm('embedding')} > 0" if guard else ""
    return f"""scored AS (
        SELECT vec_id, embedding,
               {_cell_sims('embedding', cents)}
        FROM embeddings
    ),
    assigned AS (
        SELECT vec_id, embedding, {_argmax(names, 'best')} AS cell, best AS csim
        FROM (SELECT *, greatest({', '.join(names)}) AS best FROM scored){where}
    )"""


def _qsims_cte(cents: list[list[float]], where: str) -> str:
    """``qsims`` CTE: the embeddings rows matching ``where`` as queries
    (``q_id``, ``qe``) with their centroid cosines."""
    return f"""qsims AS (
        SELECT vec_id AS q_id, embedding AS qe,
               {_cell_sims('embedding', cents)}
        FROM embeddings WHERE {where}
    )"""


def _probe_cells_cte(n_cells: int, nprobe: int, tie: str) -> str:
    """``qcells`` CTE: each query's ``nprobe`` cells by cosine DESC; equal
    cosines rank the cell ``tie`` (DESC for knn_join's reverse(array_sort),
    ASC for ivfadc's ``(sim, -cell)`` struct)."""
    union = "\n            UNION ALL ".join(
        f"SELECT q_id, {i} AS cell, s{i} AS sim FROM qsims" for i in range(n_cells)
    )
    return f"""qcells AS (
        SELECT q_id, cell FROM (
            SELECT q_id, cell, sim,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY sim DESC, cell {tie}) AS rn
            FROM ({union})
        ) WHERE rn <= {nprobe}
    )"""


def _pq_code_ctes(
    books: list[list[list[float]]], adjust, src: str = "embeddings", keys: str = "vec_id"
) -> str:
    """``pq_scored`` + ``coded`` CTEs: PQ encoding of ``src``'s
    ``embedding``. Score ``s{s}_{j}`` is the subspace chain dot against
    code j minus ``adjust(s, j, centroid)``; code ``c{s}`` is its argmax.
    Both carry ``keys``."""
    dsub = len(books[0][0])
    score_defs, code_cols = [], []
    for s, book in enumerate(books):
        names = [f"s{s}_{j}" for j in range(len(book))]
        for j, c in enumerate(book):
            dot = _chain_dot("embedding", [_dbl(x) for x in c], s * dsub)
            score_defs.append(f"{dot} - {adjust(s, j, c)} AS {names[j]}")
        best = f"greatest({', '.join(names)})"
        code_cols.append(f"{_argmax(names, best)} AS c{s}")
    sep = ",\n               "
    return f"""pq_scored AS (
        SELECT {keys},
               {sep.join(score_defs)}
        FROM {src}
    ),
    coded AS (
        SELECT {keys},
               {sep.join(code_cols)}
        FROM pq_scored
    )"""


def _words(t: str, lower: bool = False, null_empty: bool = False, ws_trim: bool = False) -> str:
    """The whitespace word split of ``t``, with the variants of
    ``operators.text._words_sql``: trim spaces and split on ``\\s+`` (an
    empty text is one empty word); ``lower``; NULL as '' (``null_empty``);
    the Gopher/C4 full-whitespace trim, where an empty text is zero words
    (``ws_trim``)."""
    if null_empty:
        t = f"coalesce({t}, '')"
    t = f"regexp_replace(regexp_replace({t}, '^\\s+', ''), '\\s+$', '')" if ws_trim else f"trim({t})"
    if lower:
        t = f"lower({t})"
    words = f"string_split_regex({t}, '\\s+')"
    if ws_trim:
        return f"CASE WHEN {t} = '' THEN []::VARCHAR[] ELSE {words} END"
    return words


def _shingles_cte(src: str, keys: str = "doc_id") -> str:
    """``sh`` CTE: one row per distinct char 3-shingle of each document."""
    return f"""sh AS (
        SELECT {keys},
               unnest(list_distinct([substr(text, i, 3) for i in range(1, length(text) - 1)]))
                   AS shingle
        FROM {src}
    )"""


def _shingle_overlap_ctes(src: str) -> str:
    """``sh`` plus ``sizes`` (shingles per document) and ``inter`` (shared
    shingles per document pair ``d1 < d2``): the exact-Jaccard inputs."""
    return f"""{_shingles_cte(src)},
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )"""


def _minhash_ctes(num_hashes: int, bands: int, keys: str = "doc_id") -> str:
    """``sh``, ``sig`` and ``banded`` CTEs of the md5 MinHash
    (``hash_fn='md5'``): component s is the least ``md5('s:' || shingle)``, and
    band b's bucket is the md5 of its components joined by '|'."""
    rows = num_hashes // bands
    mins = ",\n               ".join(
        f"min(md5('{s}:' || shingle)) AS mh_{s}" for s in range(num_hashes)
    )
    band_selects = "\n        UNION ALL\n        ".join(
        f"SELECT {keys}, {b} AS band, md5("
        + " || '|' || ".join(f"mh_{s}" for s in range(b * rows, (b + 1) * rows))
        + ") AS bucket FROM sig"
        for b in range(bands)
    )
    return f"""{_shingles_cte('documents', keys)},
    sig AS (
        SELECT {keys},
               {mins}
        FROM sh GROUP BY {keys}
    ),
    banded AS (
        {band_selects}
    )"""


def _agree(num_hashes: int, a: str, b: str) -> str:
    """Number of signature components on which ``sig`` rows a and b agree."""
    return " + ".join(
        f"(CASE WHEN {a}.mh_{s} = {b}.mh_{s} THEN 1 ELSE 0 END)" for s in range(num_hashes)
    )


# ``s`` + ``quant`` CTEs of quantize_int8: ``scale`` = max|x| and the codes
# ``q`` = floor(x * 127 / scale + 0.5), all zeros when scale is 0.
_INT8_CTES = """s AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
        FROM embeddings
    ),
    quant AS (
        SELECT vec_id, scale,
               CASE WHEN scale > 0 THEN
                   list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / scale + 0.5) AS INT))
               ELSE list_transform(embedding, x -> 0) END AS q
        FROM s
    )"""


def _split_case(splits_e6: dict[str, int], seed: int) -> str:
    """shuffle_split's membership CASE: cumulative md5-hex thresholds;
    lowercase-hex string compare == integer compare."""
    from ..operators.sampling import rate_to_threshold_hex

    names = list(splits_e6)
    whens, cum = [], 0
    for name in names[:-1]:
        cum += splits_e6[name]
        whens.append(
            f"WHEN substr(md5('{seed}:' || CAST(doc_id AS VARCHAR)), 1, 8)"
            f" < '{rate_to_threshold_hex(cum)}' THEN '{name}'"
        )
    return "CASE " + " ".join(whens) + f" ELSE '{names[-1]}' END"


@register(
    "q40_dedup_exact",
    oracle="""
    SELECT md5(text)    AS text_hash,
           min(doc_id)  AS canonical_doc_id,
           count(*)     AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    doc="Exact dedup: hash-groupBy on content, keep lowest id as canonical "
    "(operators.text.exact_dedup_groups). Scale: one shuffle on a 128-bit "
    "hash — uniform keys, no skew at 100 TB.",
    tags=("LLM", "dedup"),
)
def q40_dedup_exact(spark, sf_dir):
    return run_sql(spark, sf_dir, Q40_SQL)


# SQL twin of operators.text.exact_dedup_groups (the canonical DataFrame op);
# tests/test_sql_df_parity.py pins exact equality. SQL-text build avoids the
# py4j plan-construction overhead that dominates sub-second benchmarks.
# ``text_hash`` is the content hash md5(text): computed over the raw
# documents, stored on the content-addressed copy (clustered on it — what
# an exact-dedup store is in production), where the hash-groupBy reads
# co-located buckets with zero exchanges.
Q40_SQL = """
    SELECT text_hash,
           min(doc_id) AS canonical_doc_id,
           count(*)    AS n_copies
    FROM {bkt_documents_hash} GROUP BY text_hash
"""


def q40_dedup_exact_df(spark, sf_dir):
    return tx.exact_dedup_groups(load(spark, sf_dir, "documents"))


@register(
    "q41_text_quality",
    oracle=f"""
    SELECT doc_id,
           length(text)                                            AS n_chars_calc,
           len({_words('text')})                                   AS n_tokens,
           CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)
               * 1000000 // length(text)                           AS alpha_ratio_e6,
           length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS punct_count,
           CAST(length(text) AS BIGINT) * 1000000
               // len({_words('text')})                            AS mean_token_len_e6,
           len(regexp_extract_all(lower(text), '{_EN}'))           AS stopword_count_en,
           length(text) >= 20
             AND len({_words('text')}) >= 5
             AND length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 2 > length(text)
                                                                   AS quality_ok
    FROM documents
    """,
    doc="Quality scoring: char/token counts, fixed-point alpha ratio, punct "
    "count, mean token length, stopword density, boolean quality gate "
    "(operators.text.quality_metrics). Pure regexp/length expressions — "
    "codegen-friendly, trivially data-parallel at any scale.",
    tags=("LLM", "text-analysis"),
)
def q41_text_quality(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.quality_metrics(d).select(
        "doc_id",
        "n_chars_calc",
        "n_tokens",
        "alpha_ratio_e6",
        "punct_count",
        "mean_token_len_e6",
        "stopword_count_en",
        "quality_ok",
    )


@register(
    "q42_language_id",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               len(regexp_extract_all(lower(text), '{_EN}')) AS score_en,
               len(regexp_extract_all(lower(text), '{_FR}')) AS score_fr,
               len(regexp_extract_all(lower(text), '{_DE}')) AS score_de,
               len(regexp_extract_all(lower(text), '{_ES}')) AS score_es,
               length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) AS non_ascii,
               length(text) AS n
        FROM documents
    )
    SELECT doc_id, lang, score_en, score_fr, score_de, score_es,
           CASE WHEN non_ascii * 4 > n THEN 'cjk'
                WHEN greatest(score_en, score_fr, score_de, score_es) = 0 THEN 'und'
                WHEN score_en = greatest(score_en, score_fr, score_de, score_es) THEN 'en'
                WHEN score_fr = greatest(score_en, score_fr, score_de, score_es) THEN 'fr'
                WHEN score_de = greatest(score_en, score_fr, score_de, score_es) THEN 'de'
                ELSE 'es' END AS predicted_lang
    FROM scored
    """,
    doc="Language ID: per-language stopword-count heuristic with fixed "
    "argmax tie order + non-ASCII guard (operators.text.predict_language). "
    "Word-boundary regexes behave identically in Java regex and RE2.",
    tags=("LLM", "text-analysis"),
)
def q42_language_id(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.predict_language(d).select(
        "doc_id", "lang", "score_en", "score_fr", "score_de", "score_es", "predicted_lang"
    )


@register(
    "q43_token_stats",
    oracle=r"""
    SELECT source,
           count(*)                                                        AS n_docs,
           CAST(sum(len(regexp_extract_all(text, '[a-zA-Z]+'))) AS BIGINT) AS word_tokens,
           CAST(sum(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT)    AS number_tokens,
           CAST(sum(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]'))) AS BIGINT)
                                                                           AS mark_tokens
    FROM documents GROUP BY source
    """,
    doc="BPE-ish pre-tokenization statistics per source: alphabetic runs, "
    "digit runs and single marks, each counted with its own regexp_extract_all "
    "pattern. DuckDB sum(int) widens to HUGEINT, hence the BIGINT casts in "
    "the oracle.",
    tags=("LLM", "text-analysis"),
)
def q43_token_stats(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.regexp_extract_all("text", F.lit(r"[a-zA-Z]+"), F.lit(0)))).alias(
            "word_tokens"
        ),
        F.sum(F.size(F.regexp_extract_all("text", F.lit(r"[0-9]+"), F.lit(0)))).alias(
            "number_tokens"
        ),
        F.sum(
            F.size(F.regexp_extract_all("text", F.lit(r"[^a-zA-Z0-9\s]"), F.lit(0)))
        ).alias("mark_tokens"),
    )


@register(
    "q44_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
           length(text) // 100                                      AS length_bucket
    FROM documents
    """,
    doc="Document fingerprinting: md5 of whitespace-normalized lowercase "
    "text + coarse length bucket (operators.text.fingerprint).",
    tags=("LLM", "text-analysis", "dedup"),
)
def q44_fingerprint(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tx.fingerprint("text").alias("fingerprint"),
        F.expr("length(text) div 100").alias("length_bucket"),
    )


@register(
    "x45_ngram_jaccard_pairs",
    oracle=f"""
    WITH {_shingle_overlap_ctes('documents')}
    SELECT d1, d2,
           CAST(n_inter AS BIGINT) * 1000000 // (s1.sz + s2.sz - n_inter) AS jaccard_e6
    FROM inter
    JOIN sizes s1 ON s1.doc_id = d1
    JOIN sizes s2 ON s2.doc_id = d2
    WHERE CAST(n_inter AS BIGINT) * 1000000 // (s1.sz + s2.sz - n_inter) >= 800000
    """,
    doc="N-gram (3-shingle) Jaccard near-dup pairs, fully relational: "
    "distinct-shingle self-join -> intersection counts -> fixed-point "
    "Jaccard (operators.text.ngram_jaccard_pairs). Candidates are bounded "
    "by shared shingles, not n^2; the 100 TB path swaps in MinHash-LSH "
    "banding with the same output contract (q48).",
    tags=("LLM", "dedup"),
)
def q45_ngram_jaccard_pairs(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.ngram_jaccard_pairs(d, k=3, threshold_e6=800_000)


@register(
    "x46_ann_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, {_cos('e.embedding', 'q.qe')} AS cosine
    FROM embeddings e, q
    ORDER BY cosine DESC, e.vec_id LIMIT 20
    """,
    doc="Brute-force cosine top-k against a query vector "
    "(operators.similarity.ann_topk_bruteforce): broadcast query, "
    "shuffle-free scan, TakeOrdered top-k. Cosine doubles are bit-identical "
    "across engines (left-to-right fold), so no rounding is needed.",
    tags=("LLM", "similarity"),
)
def q46_ann_cosine_topk(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    query = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    return sim.ann_topk_bruteforce(e, query, k=20, dim=64)


@register(
    "x47_cosine_neardup_pairs",
    oracle=f"""
    SELECT a.vec_id AS id1, b.vec_id AS id2, {_cos('a.embedding', 'b.embedding')} AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_cos('a.embedding', 'b.embedding')} >= 0.4
    """,
    doc="Embedding-cosine near-dup pairs, exact O(n^2) baseline "
    "(operators.similarity.cosine_pairs_bruteforce). The LSH-bucketed scale "
    "path (q50) produces the same pairs without the cross join.",
    tags=("LLM", "similarity", "dedup"),
)
def q47_cosine_neardup_pairs(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    return sim.cosine_pairs_bruteforce(e, threshold=0.4, dim=64)


# --- LSH scale-path variants. The catalog entries run the md5-backed hash
# --- variants (both engines implement md5 identically, so the ENTIRE
# --- pipeline — signatures, banding, candidates, verification — has a
# --- DuckDB twin and a full driver oracle). The xxhash64 defaults stay the
# --- production fast path, pinned against these in tests/test_operators.py.


def _minhash_oracle(
    num_hashes: int,
    bands: int,
    threshold_e6: int,
    prefilter_e6: int | None = None,
) -> str:
    """DuckDB twin of minhash_lsh_pairs(hash_fn='md5'), same parameters.

    ``prefilter_e6`` mirrors the operator's ``estimate_prefilter_e6``:
    candidates whose signature-agreement estimate undershoots the cutoff
    are dropped BEFORE the exact-Jaccard join, so the pruning itself is
    cross-engine-checked (x132), not assumed equivalent."""
    prefilter_ctes = ""
    cand_src = "cand"
    if prefilter_e6 is not None:
        prefilter_ctes = f""",
    est AS (
        SELECT c.d1, c.d2, {_agree(num_hashes, 'sa', 'sb')} AS n_agree
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.d1
        JOIN sig sb ON sb.doc_id = c.d2
    ),
    kept AS (
        SELECT d1, d2 FROM est
        WHERE CAST(n_agree AS BIGINT) * 1000000 // {num_hashes} >= {prefilter_e6}
    )"""
        cand_src = "kept"
    return f"""
    WITH {_minhash_ctes(num_hashes, bands)},
    cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ){prefilter_ctes},
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.d1, c.d2, count(*) AS n_inter
        FROM {cand_src} c
        JOIN sh s1 ON s1.doc_id = c.d1
        JOIN sh s2 ON s2.doc_id = c.d2 AND s2.shingle = s1.shingle
        GROUP BY c.d1, c.d2
    )
    SELECT d1, d2,
           CAST(n_inter AS BIGINT) * 1000000 // (z1.sz + z2.sz - n_inter) AS jaccard_e6
    FROM inter
    JOIN sizes z1 ON z1.doc_id = d1
    JOIN sizes z2 ON z2.doc_id = d2
    WHERE CAST(n_inter AS BIGINT) * 1000000 // (z1.sz + z2.sz - n_inter) >= {threshold_e6}
    """


@register(
    "q48_minhash_lsh_pairs",
    oracle=_minhash_oracle(num_hashes=32, bands=8, threshold_e6=800_000),
    doc="MinHash(32 hashes) + LSH(8 bands x 4 rows) candidate generation, "
    "exact-Jaccard verification restricted to candidates "
    "(operators.text.minhash_lsh_pairs). Candidate join is per band-bucket "
    "— bounded, shuffle-friendly, no n^2. This entry runs the md5 hash "
    "variant so the full pipeline is oracle-checked end-to-end; the "
    "xxhash64 default is pinned against it in tests.",
    tags=("LLM", "dedup", "lsh"),
)
def q48_minhash_lsh_pairs(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.minhash_lsh_pairs(
        d, k=3, num_hashes=32, bands=8, threshold_e6=800_000, hash_fn="md5"
    )


@register(
    "x132_minhash_prefiltered_pairs",
    oracle=_minhash_oracle(
        num_hashes=32, bands=8, threshold_e6=800_000, prefilter_e6=500_000
    ),
    doc="q48's pipeline with a signature-agreement prefilter between "
    "candidate generation and exact verification "
    "(minhash_lsh_pairs(estimate_prefilter_e6=500000)): candidates whose "
    "binomial Jaccard estimate undershoots 0.5 are dropped unverified. "
    "The entry exists to cross-engine-check the PRUNING semantics — the "
    "same cutoff applied to the same md5 signatures in both engines — "
    "not to claim speed: measured at sf0.1 the safe cutoff keeps 79% of "
    "candidates (banding already biases candidates toward medium "
    "similarity) and saves ~1 s of 12; the knob pays off only at "
    "num_hashes >= 128 where the estimator's sigma tightens. Results "
    "equal q48's here (the 5e-6 recall loss needs ~200k true pairs to "
    "show); the equality itself is pinned in tests.",
    tags=("LLM", "dedup", "lsh"),
)
def x132_minhash_prefiltered_pairs(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.minhash_lsh_pairs(
        d, k=3, num_hashes=32, bands=8, threshold_e6=800_000, hash_fn="md5",
        estimate_prefilter_e6=500_000,
    )


def _simhash_oracle(max_hamming: int) -> str:
    """DuckDB twin of simhash_near_pairs(hash_fn='md5'): same 60-bit
    fingerprints; candidate blocking is an implementation detail (pigeonhole
    blocking is exact for max_hamming < blocks), so the oracle states the
    SEMANTICS directly — all pairs at Hamming <= max_hamming."""
    n_bits = 60
    bit_sums = ",\n               ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS bit_{b}"
        for b in range(n_bits)
    )
    fp_terms = "\n             + ".join(
        f"(CASE WHEN bit_{b} > 0 THEN CAST(1 AS BIGINT) << {b} ELSE CAST(0 AS BIGINT) END)"
        for b in range(n_bits)
    )
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest({_words('text')}) AS tok
        FROM documents
    ),
    h AS (
        SELECT doc_id, {o_h60('tok')} AS h FROM tok
    ),
    bits AS (
        SELECT doc_id,
               {bit_sums}
        FROM h GROUP BY doc_id
    ),
    fp AS (
        SELECT doc_id,
               {fp_terms} AS simhash
        FROM bits
    )
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


@register(
    "q49_simhash_near_pairs",
    oracle=_simhash_oracle(max_hamming=3),
    doc="SimHash fingerprints + pigeonhole-blocked Hamming<=3 pairs "
    "(operators.text.simhash_near_pairs): chunk equi-joins instead of a "
    "cross join; bit_count on XOR for the distance. This entry runs the "
    "md5 60-bit variant so fingerprints are cross-engine checkable; the "
    "oracle verifies the SEMANTICS (all pairs at Hamming<=3) while Spark "
    "produces them via blocking — recall 1.0 is part of what's checked.",
    tags=("LLM", "dedup", "simhash"),
)
def q49_simhash_near_pairs(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.simhash_near_pairs(d, max_hamming=3, blocks=4, hash_fn="md5")


def _q50_oracle(k: int, dim: int, n_planes: int, seed: int = 42) -> str:
    """DuckDB twin of ann_topk_ivf: the hyperplanes are deterministic
    literals (same numpy seed), embedded into the SQL."""
    planes = sim.make_hyperplanes(dim, n_planes, seed)
    return f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    sigs AS (
        SELECT vec_id, embedding, {_hyperplane_sig('embedding', planes)} AS sig FROM embeddings
    ),
    qsig AS (SELECT qe, {_hyperplane_sig('qe', planes)} AS qsig FROM q)
    SELECT s.vec_id, {_cos('s.embedding', 'q2.qe')} AS cosine
    FROM sigs s, qsig q2
    WHERE bit_count(xor(s.sig, q2.qsig)) <= 1
    ORDER BY cosine DESC, s.vec_id
    LIMIT {k}
    """


@register(
    "q50_ann_lsh_topk",
    oracle=_q50_oracle(k=20, dim=64, n_planes=8),
    doc="Approximate top-k via random-hyperplane LSH multi-probe "
    "(operators.similarity.ann_topk_ivf): score only vectors whose "
    "signature is within Hamming 1 of the query's — ~2^n_planes scan "
    "reduction, exact re-rank inside probed buckets. The hyperplanes are "
    "seeded literals, so the whole index + search is oracle-checked; "
    "recall vs exact x46 additionally pinned in tests.",
    tags=("LLM", "similarity", "lsh"),
)
def q50_ann_lsh_topk(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    query = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    return sim.ann_topk_ivf(e, query, k=20, dim=64, n_planes=8)


def _q51_oracle(k: int, dim: int, n_centroids: int, nprobe: int, seed: int = 42) -> str:
    """DuckDB twin of ann_topk_ivf_centroids over the seeded codebook: the
    centroids are float64 literals (same numpy seed as the Spark side), so
    cell assignment, probe-cell selection (top-nprobe by cosine desc, cell
    desc — mirroring reverse(array_sort)) and the exact re-rank are all
    plain SQL."""
    cents = sim.make_centroids(dim, n_centroids, seed)
    return f"""
    WITH {_assign_ctes(cents)},
    {_qsims_cte(cents, 'vec_id = 0')},
    {_probe_cells_cte(n_centroids, nprobe, 'DESC')}
    SELECT a.vec_id, {_cos('a.embedding', 'q.qe')} AS cosine
    FROM assigned a, qsims q
    WHERE a.cell IN (SELECT cell FROM qcells)
    ORDER BY cosine DESC, a.vec_id
    LIMIT {k}
    """


@register(
    "q51_ann_ivf_topk",
    oracle=_q51_oracle(k=20, dim=64, n_centroids=8, nprobe=4),
    doc="Approximate top-k via a centroid IVF index "
    "(operators.similarity.make_centroids + ann_topk_ivf_centroids): coarse "
    "quantizer cells, nprobe nearest cells scored, exact cosine re-rank. "
    "This entry runs the fixed seeded codebook so the whole index + search "
    "is oracle-checked end-to-end (centroids are literals, like q50's "
    "hyperplanes); the data-adaptive KMeans codebook (train_centroids) is "
    "the production recall path, pinned against exact x46 in tests. "
    "The scale path: persist ivf_partition output bucketed by cell and "
    "probes become partition pruning.",
    tags=("LLM", "similarity", "ivf"),
)
def q51_ann_ivf_topk(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    centroids = sim.make_centroids(dim=64, n_centroids=8, seed=42)
    query = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    return sim.ann_topk_ivf_centroids(e, query, centroids, k=20, nprobe=4)


def _q53_oracle(threshold: float, dim: int, n_planes: int, n_tables: int, seed: int = 42) -> str:
    """DuckDB twin of cosine_pairs_lsh: per-table hyperplane signatures from
    the same seeded literals, candidates = pairs sharing (table, signature),
    exact cosine re-rank. Mirrors the Spark pipeline 1:1 so the pair set —
    and with it the multi-table LSH recall contract vs exact x47 — is
    oracle-checked end-to-end."""
    sig_cols = ",\n               ".join(
        f"{_hyperplane_sig('embedding', sim.make_hyperplanes(dim, n_planes, seed + 1000 * t))} AS sig_{t}"
        for t in range(n_tables)
    )
    stacked = "\n        UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, sig_{t} AS sig FROM sigs" for t in range(n_tables)
    )
    cos = _cos("e1.embedding", "e2.embedding")
    return f"""
    WITH sigs AS (
        SELECT vec_id,
               {sig_cols}
        FROM embeddings
    ),
    stacked AS (
        {stacked}
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
        FROM stacked a
        JOIN stacked b ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id < b.vec_id
    )
    SELECT c.id1, c.id2, {cos} AS cosine
    FROM cand c
    JOIN embeddings e1 ON e1.vec_id = c.id1
    JOIN embeddings e2 ON e2.vec_id = c.id2
    WHERE {cos} >= {threshold}
    """


@register(
    "q53_cosine_pairs_lsh",
    oracle=_q53_oracle(threshold=0.4, dim=64, n_planes=12, n_tables=4),
    doc="Embedding-cosine near-dup pairs via multi-table random-hyperplane "
    "LSH (operators.similarity.cosine_pairs_lsh) — the scale path twin of "
    "the exact x47 baseline: candidates are equi-joins on (table, "
    "signature), never a cross join; exact cosine re-rank keeps only true "
    "matches. Hyperplanes are seeded literals, so the full pipeline is "
    "oracle-checked; pair-parity with x47 at this threshold is additionally "
    "pinned in tests.",
    tags=("LLM", "similarity", "dedup", "lsh"),
)
def q53_cosine_pairs_lsh(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    return sim.cosine_pairs_lsh(e, threshold=0.4, dim=64, n_planes=12, n_tables=4)


@register(
    "q52_dedup_canonical_docs",
    oracle=f"""
    WITH RECURSIVE {_shingle_overlap_ctes('documents')},
    pairs AS (
        SELECT d1, d2 FROM inter
        JOIN sizes s1 ON s1.doc_id = d1
        JOIN sizes s2 ON s2.doc_id = d2
        WHERE CAST(n_inter AS BIGINT) * 1000000 // (s1.sz + s2.sz - n_inter) >= 800000
    ),
    edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
    walk(node, reach) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM edges)
        UNION
        SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a
    ),
    comp AS (SELECT node, min(reach) AS component FROM walk GROUP BY node),
    keep AS (
        SELECT d.doc_id FROM documents d LEFT JOIN comp ON d.doc_id = comp.node
        WHERE comp.node IS NULL OR d.doc_id = comp.component
    )
    SELECT count(*) AS n_docs_kept,
           (SELECT count(*) FROM documents) - count(*) AS n_dropped
    FROM keep
    """,
    doc="Full dedup pipeline last stage: near-dup pairs (3-gram Jaccard >= "
    "0.8, the exact x45 pair set) -> connected components (distributed "
    "min-label propagation, operators.dedup_groups.connected_components) -> "
    "one canonical doc per cluster + all singletons. Oracle resolves "
    "components with a recursive transitive-closure CTE.",
    tags=("LLM", "dedup", "graph"),
)
def q52_dedup_canonical_docs(spark, sf_dir):
    from ..operators.dedup_groups import select_canonical

    d = load(spark, sf_dir, "documents")
    pairs = tx.ngram_jaccard_pairs(d, k=3, threshold_e6=800_000)
    kept = select_canonical(d, pairs, id_col="doc_id")
    total = d.count()
    return kept.agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        (F.lit(total) - F.count(F.lit(1))).alias("n_dropped"),
    )


@register(
    "q37_document_chunks",
    oracle=f"""
    WITH fanout AS (
        SELECT doc_id, text,
               unnest(range(0,
                   CASE WHEN length(text) <= 500 THEN 1
                        ELSE CAST(ceil((length(text) - 500) / 400.0) AS INT) + 1 END
               )) AS i
        FROM documents
    )
    SELECT doc_id,
           CAST(i AS INT)           AS chunk_id,
           CAST(i * 400 + 1 AS INT) AS chunk_start,
           substring(text, CAST(i * 400 + 1 AS INT), 500) AS chunk_text,
           length(substring(text, CAST(i * 400 + 1 AS INT), 500)) AS chunk_chars,
           len({_words('substring(text, CAST(i * 400 + 1 AS INT), 500)')})
               AS chunk_tokens
    FROM fanout
    """,
    doc="Sliding-window document chunking with overlap (chunk_size=500, "
    "overlap=100) — context-window packing input for training pipelines "
    "(operators.text.chunk_documents). Narrow explode(sequence) fan-out, "
    "zero shuffle; every character covered, consecutive chunks share "
    "exactly the overlap.",
    tags=("LLM", "chunking"),
)
def q37_document_chunks(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.chunk_documents(d, chunk_size=500, overlap=100)


@register(
    "q38_sequence_packing",
    oracle=f"""
    WITH fanout AS (
        SELECT doc_id, text,
               unnest(range(0,
                   CASE WHEN length(text) <= 500 THEN 1
                        ELSE CAST(ceil((length(text) - 500) / 400.0) AS INT) + 1 END
               )) AS i
        FROM documents
    ),
    chunks AS (
        SELECT doc_id, CAST(i AS INT) AS chunk_id,
               len({_words('substring(text, CAST(i * 400 + 1 AS INT), 500)')})
                   AS chunk_tokens
        FROM fanout
    ),
    laid AS (
        SELECT doc_id, chunk_id, chunk_tokens,
               coalesce(sum(chunk_tokens) OVER (
                   ORDER BY doc_id, chunk_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        FROM chunks
    )
    SELECT CAST(cum // 512 AS INT)  AS pack_id,
           count(*)                 AS n_items,
           CAST(sum(chunk_tokens) AS BIGINT) AS pack_tokens,
           count(DISTINCT doc_id)   AS n_docs
    FROM laid
    GROUP BY 1
    """,
    doc="Context-window packing over the q37 chunks: items laid out on a "
    "cumulative token axis, pack_id = floor(exclusive_cumsum / 512) — "
    "concat-and-wrap packing of training sequences "
    "(operators.text.pack_sequences). Rolled up per pack for a stable "
    "driver gate.",
    tags=("LLM", "chunking", "packing"),
)
def q38_sequence_packing(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    chunks = tx.chunk_documents(d, chunk_size=500, overlap=100)
    packed = tx.pack_sequences(chunks, budget=512)
    return packed.groupBy("pack_id").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("chunk_tokens").alias("pack_tokens"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


@register(
    "q39_repetition_quality",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {_words('text', lower=True)} AS t,
               len({_words('text', lower=True)}) AS n
        FROM documents
    ),
    tri AS (
        SELECT doc_id,
               CAST(greatest(n - 2, 0) AS BIGINT) AS n_trigrams,
               CASE WHEN n >= 3 THEN
                   CAST(len(list_distinct(list_transform(range(1, n - 1),
                        i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) AS BIGINT)
               ELSE 0 END AS n_distinct_trigrams
        FROM toks
    )
    SELECT doc_id, n_trigrams, n_distinct_trigrams,
           CASE WHEN n_trigrams > 0
                THEN (n_trigrams - n_distinct_trigrams) * 1000000 // n_trigrams
                ELSE 0 END AS dup_trigram_ratio_e6
    FROM tri
    """,
    doc="Repetition quality signal: duplicate word-trigram ratio in e6 "
    "fixed point (the Gopher/Dolma repetitious-text filter; "
    "operators.text.repetition_metrics). Per-row higher-order array "
    "expressions — no shuffle, codegen-eligible.",
    tags=("LLM", "text-analysis", "quality"),
)
def q39_repetition_quality(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.repetition_metrics(d)


@register(
    "q54_pii_redaction",
    oracle=r"""
    WITH e AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
                   AS n_emails,
               regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g')
                   AS after_email
        FROM documents
    )
    SELECT doc_id, n_emails,
           CAST(len(regexp_extract_all(after_email, '\+?[0-9][0-9() .-]{7,}[0-9]')) AS BIGINT)
               AS n_phones,
           regexp_replace(after_email, '\+?[0-9][0-9() .-]{7,}[0-9]', '[PHONE]', 'g')
               AS redacted_text
    FROM e
    """,
    doc="PII scrub before training export: email then phone-like digit runs "
    "redacted with RE2-compatible patterns so Java regex and RE2 agree "
    "byte-for-byte (operators.text.redact_pii). Per-row regexp_replace — "
    "no shuffle, linear in document length.",
    tags=("LLM", "text-analysis", "pii"),
)
def q54_pii_redaction(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.redact_pii(d)


@register(
    "q55_stratified_sample",
    # Thresholds are rate_to_threshold_hex(e6) literals: 'src0'->100%('g'
    # sorts after all hex), 'src1'->30%, 'src2'->0%, default 50%.
    oracle="""
    SELECT doc_id, source
    FROM documents
    WHERE substring(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8) <
          CASE source
               WHEN 'src0' THEN 'g'
               WHEN 'src1' THEN '4ccccccc'
               WHEN 'src2' THEN '00000000'
               ELSE '80000000' END
    """,
    doc="Deterministic stratified sampling for corpus mixing "
    "(operators.sampling.stratified_sample): membership = "
    "substring(md5(seed:id),1,8) < per-stratum hex threshold. Lowercase hex "
    "compares exactly like the integers it encodes and both engines emit "
    "identical md5, so the oracle replays the identical selection. Per-row "
    "hash+filter: no shuffle, reproducible across engines/partitionings.",
    tags=("LLM", "sampling"),
)
def q55_stratified_sample(spark, sf_dir):
    from ..operators.sampling import stratified_sample

    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_sample(
        d,
        {"src0": 1_000_000, "src1": 300_000, "src2": 0},
        strata_col="source",
        id_col="doc_id",
        seed=42,
        default_rate_e6=500_000,
    )


@register(
    "q56_dedup_canonical_embeddings",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT a.vec_id AS id1, b.vec_id AS id2
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {_cos('a.embedding', 'b.embedding')} >= 0.4
    ),
    edges AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs),
    walk(node, reach) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM edges)
        UNION
        SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a
    ),
    comp AS (SELECT node, min(reach) AS component FROM walk GROUP BY node),
    keep AS (
        SELECT v.vec_id FROM embeddings v LEFT JOIN comp ON v.vec_id = comp.node
        WHERE comp.node IS NULL OR v.vec_id = comp.component
    )
    SELECT count(*) AS n_vecs_kept,
           (SELECT count(*) FROM embeddings) - count(*) AS n_dropped
    FROM keep
    """,
    doc="Embedding-dedup last stage, completing the family x47/q53 start: "
    "exact cosine near-dup pairs (>= 0.4) -> distributed connected "
    "components -> one canonical vector per cluster + singletons "
    "(operators.dedup_groups). Oracle resolves components with a recursive "
    "transitive-closure CTE over the same exact pair set.",
    tags=("LLM", "similarity", "dedup", "graph"),
)
def q56_dedup_canonical_embeddings(spark, sf_dir):
    from ..operators.dedup_groups import select_canonical

    e = load(spark, sf_dir, "embeddings")
    pairs = sim.cosine_pairs_bruteforce(e, threshold=0.4, dim=64)
    kept = select_canonical(e.select("vec_id"), pairs, id_col="vec_id", left="id1", right="id2")
    total = e.count()
    return kept.agg(
        F.count(F.lit(1)).alias("n_vecs_kept"),
        (F.lit(total) - F.count(F.lit(1))).alias("n_dropped"),
    )


@register(
    "q60_tfidf_top_terms",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               regexp_replace(unnest({_words('text', lower=True)}), '[^a-z]', '', 'g') AS term
        FROM documents
    ),
    filtered AS (
        SELECT doc_id, term FROM toks WHERE length(term) >= 3
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM filtered GROUP BY 1, 2),
    docfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, docfreq.df,
               tf.tf * 1000000 * n.n_docs // docfreq.df AS score_e6
        FROM tf JOIN docfreq USING (term) CROSS JOIN n
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score_e6 DESC, term) AS rank
        FROM scored
    )
    SELECT doc_id, CAST(rank AS INT) AS rank, term,
           CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           CAST(score_e6 AS BIGINT) AS score_e6
    FROM ranked WHERE rank <= 3
    """,
    doc="Top-3 characteristic terms per document by tf-idf with linear "
    "integer idf (N/df ratio; log's last-ulp engine differences would "
    "break the hash, integers cannot) — operators.text.tfidf_top_terms. "
    "Tokens filtered to alphabetic stems >= 3 chars; ties break on the "
    "term string so the set is fully deterministic.",
    tags=("LLM", "text-analysis"),
)
def q60_tfidf_top_terms(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.tfidf_top_terms(d, top_k=3)


@register(
    "q61_int8_quantization",
    # round(scale, 6) on both sides: the raw double max|x| prints with
    # engine-specific repr; rounding pins the hash (values identical).
    # The quantized codes ship as a comma-joined STRING (q_csv), not
    # array<int>: the driver's pandas canonicalizer sort_values() a frame of
    # the result and Categorical(list) throws "unhashable type: 'list'"
    # (round-5 red row). array_join / array_to_string produce the identical
    # string on both engines, so the hash gate still pins every element.
    oracle=f"""
    WITH {_INT8_CTES}
    SELECT vec_id,
           CASE WHEN scale > 0 THEN round(scale, 6) END AS scale,
           array_to_string(q, ',') AS q_csv
    FROM quant
    """,
    doc="Symmetric int8 scalar quantization of the embedding column "
    "(operators.similarity.quantize_int8): scale = max|x|, q_i = "
    "floor(x*127/scale + 0.5) — identical IEEE sequence on both engines, "
    "so the quantized vectors are exactly reproducible. 4x smaller "
    "vectors for the ANN scale path.",
    tags=("LLM", "similarity", "quantization"),
)
def q61_int8_quantization(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    out = sim.quantize_int8(e)
    return out.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.array_join(F.col("q").cast("array<string>"), ",").alias("q_csv"),
    )


@register(
    "q62_ann_quantized_topk",
    # Integer dot products over int8 codes: exact BIGINT scores, no float
    # comparison anywhere — the most hash-stable ANN entry in the catalog.
    oracle=f"""
    WITH {_INT8_CTES},
    qv AS (SELECT q AS qq FROM quant WHERE vec_id = 0)
    SELECT vec_id, CAST({_dot('q', 'qq', 'BIGINT')} AS BIGINT) AS dot_q
    FROM quant CROSS JOIN qv
    ORDER BY dot_q DESC, vec_id
    LIMIT 20
    """,
    doc="ANN top-k over int8-quantized vectors (operators.similarity."
    "ann_topk_quantized): exact BIGINT dot-product scores over the q61 "
    "codes — the memory-bound scale path (4x smaller vectors, integer "
    "SIMD); re-score survivors with full cosine when exact values matter. "
    "Recall vs the float path pinned in tests.",
    tags=("LLM", "similarity", "quantization"),
)
def q62_ann_quantized_topk(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    query = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    return sim.ann_topk_quantized(e, query, k=20)


@register(
    "q63_decontamination",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, source,
               {_words('text', lower=True)} AS t,
               len({_words('text', lower=True)}) AS n
        FROM documents
    ),
    grams AS (
        SELECT doc_id, source,
               unnest(list_distinct(list_transform(range(1, n - 6),
                   i -> array_to_string(t[i:i+7], ' ')))) AS gram
        FROM toks WHERE n >= 8
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE source = 'src0'),
    hits AS (
        SELECT DISTINCT g.doc_id FROM grams g JOIN bench b USING (gram)
        WHERE g.source <> 'src0'
    )
    SELECT d.doc_id, hits.doc_id IS NOT NULL AS contaminated
    FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
    WHERE d.source <> 'src0'
    """,
    doc="Benchmark decontamination (operators.text.decontaminate): corpus "
    "documents sharing ANY 8-token word n-gram with the benchmark slice "
    "(source='src0') are flagged — the standard test-set-leakage filter. "
    "Both sides reduce to distinct grams and meet in a left-semi join "
    "(never a cross join); hash grams before the shuffle at real scale.",
    tags=("LLM", "dedup", "decontamination"),
)
def q63_decontamination(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("source") != "src0")
    bench = d.filter(F.col("source") == "src0")
    return tx.decontaminate(corpus, bench, n=8)


# Batch split for the incremental-dedup entry: doc_id >= 400 is "today's
# drop", the rest is the already-indexed corpus (500 docs at every SF).
_INC_CUTOFF = 400


@register(
    "x75_incremental_dedup",
    # Oracle: the FULL-corpus LSH pairs (q48's oracle verbatim) restricted
    # to pairs touching the new batch. The incremental probe must reproduce
    # exactly this set — LSH candidacy and Jaccard verification are both
    # pairwise, so batch-vs-(corpus ∪ batch) probing loses nothing.
    oracle=f"""
    SELECT * FROM ({_minhash_oracle(num_hashes=32, bands=8, threshold_e6=800_000)})
    WHERE d1 >= {_INC_CUTOFF} OR d2 >= {_INC_CUTOFF}
    """,
    doc="Incremental corpus dedup (operators.incremental_dedup): sign only "
    "the new batch, probe its band rows against the stored corpus band "
    "table (the durable sketch_store 'lsh_bands' artifact), verify exact "
    "Jaccard on candidates only, with corpus text read back solely for "
    "candidate ids. Batch-equivalence contract: incremental pairs == "
    "full-run pairs touching the batch (this oracle). md5 hash variant for "
    "the cross-engine check; xxhash64 is the production path "
    "(tests/test_operators.py pins store round-trip + equivalence).",
    tags=("LLM", "dedup", "lsh", "incremental"),
)
def x75_incremental_dedup(spark, sf_dir):
    from ..operators import incremental_dedup as inc

    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") < _INC_CUTOFF)
    batch = d.filter(F.col("doc_id") >= _INC_CUTOFF)
    corpus_bands = inc.lsh_band_table(corpus, k=3, num_hashes=32, bands=8, hash_fn="md5")
    return inc.incremental_minhash_pairs(
        batch, corpus, corpus_bands,
        k=3, num_hashes=32, bands=8, threshold_e6=800_000, hash_fn="md5",
    )


# Target mixture for the domain-mix entry (e6 weights; unlisted sources
# are dropped). The oracle derives the SAME per-source rates in SQL
# integer math that operators.sampling.mix_rates_e6 derives in Python:
# T = min_s(n_s * 1e6 // w_s); rate_s = (T * w_s // 1e6) * 1e6 // n_s;
# threshold_hex = printf('%08x', rate * 16^8 // 1e6), EXCEPT rate ==
# 1_000_000 which must map to 'g' exactly like rate_to_threshold_hex —
# printf would yield the 9-char '100000000', which sorts BELOW most hex
# strings and would keep ~6% instead of all rows. A full-keep rate occurs
# whenever a source's count divides the weights exactly (the binding
# source always has it), so the clamp is load-bearing, not defensive.
# 500k/300k/200k over 25-doc sources makes src0 the binding source with
# an EXACT full-keep rate (T=50, c=25, rate=1e6) — so the oracle's 'g'
# clamp is exercised by the gate, not latent.
_MIX_WEIGHTS_E6 = {"src0": 500_000, "src1": 300_000, "src2": 200_000}


@register(
    "x76_domain_mix",
    oracle=f"""
    WITH w(source, w_e6) AS (VALUES {", ".join(f"('{s}', {w})" for s, w in sorted(_MIX_WEIGHTS_E6.items()))}),
    n AS (
        SELECT d.source, count(*) AS n_s, min(w.w_e6) AS w_e6
        FROM documents d JOIN w ON d.source = w.source
        GROUP BY d.source
    ),
    t AS (SELECT min(n_s * 1000000 // w_e6) AS t_e6 FROM n),
    r AS (
        SELECT source,
               CASE WHEN ((t_e6 * w_e6 // 1000000) * 1000000 // n_s) >= 1000000
                    THEN 'g'
                    ELSE printf('%08x', ((t_e6 * w_e6 // 1000000) * 1000000 // n_s)
                                * 4294967296 // 1000000) END AS thr
        FROM n, t
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN r ON d.source = r.source
    WHERE substring(md5('42:' || CAST(d.doc_id AS VARCHAR)), 1, 8) < r.thr
    """,
    doc="Domain mixing for training-corpus construction "
    "(operators.sampling.domain_mix): rebalance source proportions to "
    "target weights at the largest achievable size (T = min n_s/w_s), "
    "then keep rows by the deterministic hash filter. The per-source "
    "counts are a |sources|-row driver scalar (like dbt's max(ts) "
    "high-water mark); the selection is pure Catalyst hash+filter — "
    "no shuffle, engine-reproducible membership.",
    tags=("LLM", "sampling", "mixing"),
)
def x76_domain_mix(spark, sf_dir):
    from ..operators.sampling import domain_mix

    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    return domain_mix(d, _MIX_WEIGHTS_E6, strata_col="source", id_col="doc_id", seed=42)


@register(
    "x77_winnow_overlap_pairs",
    # DuckDB twin of winnow_overlap_pairs(k=20, w=10, min_shared=3,
    # hash_fn='md5'). The pairs path only needs each doc's DISTINCT set of
    # window-min hash values — never WHICH position was selected — so the
    # oracle sidesteps the argmin-tie question entirely: min(h) OVER a
    # 10-wide position window, full windows only, then distinct + self-join.
    oracle=f"""
    WITH g AS (
        SELECT doc_id,
               unnest(range(1, greatest(length(text) - 19, 0) + 1)) AS pos,
               length(text) - 19 AS n
        FROM documents
    ),
    h AS (
        SELECT g.doc_id, g.pos, g.n,
               {o_h60('substr(d.text, CAST(g.pos AS INT), 20)')} AS hv
        FROM g JOIN documents d ON d.doc_id = g.doc_id
    ),
    m AS (
        SELECT doc_id, pos, n,
               min(hv) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS fp
        FROM h
    ),
    fps AS (
        SELECT DISTINCT doc_id, fp FROM m WHERE pos <= n - 10 + 1
    )
    SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS n_shared
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 3
    """,
    doc="Winnowing fingerprint overlap (Schleimer/Wilkerson/Aiken 2003, the "
    "MOSS scheme; operators.text.winnow_overlap_pairs): hash every char "
    "20-gram, keep each 10-window's min hash, pair documents sharing >= 3 "
    "selected fingerprints. Guarantees any shared passage of length >= "
    "k+w-1 = 29 chars shares a fingerprint — passage-LOCAL overlap where "
    "minhash/simhash are whole-document. One posexplode + per-doc window "
    "min + fp equi-join; no n^2, fp density ~2/(w+1).",
    tags=("LLM", "dedup", "fingerprint"),
)
def x77_winnow_overlap_pairs(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.winnow_overlap_pairs(d, k=20, w=10, min_shared=3, hash_fn="md5")


def _x78_oracle(threshold: float, dim: int, n_centroids: int, seed: int = 42) -> str:
    """DuckDB twin of semantic_dedup over the seeded codebook: literal-
    codebook cell + centroid cosine (q51's assignment), then the paper's
    per-cluster dominance sweep — a row is removed iff a same-cell row with
    cosine >= threshold ranks ahead of it by (csim ASC, vec_id ASC)."""
    cents = sim.make_centroids(dim, n_centroids, seed)
    return f"""
    WITH {_assign_ctes(cents)},
    removed AS (
        SELECT DISTINCT b.vec_id
        FROM assigned a JOIN assigned b
          ON a.cell = b.cell
         AND a.vec_id <> b.vec_id
         AND (a.csim < b.csim OR (a.csim = b.csim AND a.vec_id < b.vec_id))
        WHERE {_cos('a.embedding', 'b.embedding')} >= CAST({threshold!r} AS DOUBLE)
    )
    SELECT vec_id, cell FROM assigned
    WHERE vec_id NOT IN (SELECT vec_id FROM removed)
    """


@register(
    "x78_semantic_dedup",
    oracle=_x78_oracle(threshold=0.35, dim=64, n_centroids=8),
    doc="SemDeDup semantic deduplication (Abbas et al. 2023, "
    "arXiv:2303.09540; operators.similarity.semantic_dedup): cluster "
    "embeddings with the coarse codebook, then prune cosine-near-duplicates "
    "WITHIN each cluster, keeping the example least similar to its centroid "
    "(the paper's diversity-keep rule, id-tiebroken). Complements the "
    "lexical family — minhash (q48) catches copies, SemDeDup catches "
    "paraphrases. Runs the seeded codebook so assignment + sweep are "
    "oracle-checked end-to-end; the KMeans codebook (train_centroids) is "
    "the production recall path. Candidates are a self-equi-join on cell — "
    "sum of squared cluster sizes, never n^2; bucketed-by-cell storage "
    "makes it exchange-free.",
    tags=("LLM", "dedup", "semantic"),
)
def x78_semantic_dedup(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    centroids = sim.make_centroids(dim=64, n_centroids=8, seed=42)
    return sim.semantic_dedup(e, centroids, threshold=0.35)


@register(
    "x79_corpus_curation",
    # One WITH-chain composing the already-oracled stage fragments verbatim:
    # q41's quality gate, q42's language CASE, q40's canonical min-id,
    # x45's shingle-Jaccard pairs (drop the higher id of each), and q63's
    # 8-token-gram decontamination against the source='src0' benchmark.
    oracle=f"""
    WITH corpus AS (SELECT * FROM documents WHERE source <> 'src0'),
    q AS (
        SELECT doc_id,
               len({_words('text')}) AS n_tokens,
               (length(text) >= 20
                AND len({_words('text')}) >= 5
                AND length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 2
                    > length(text)) AS quality_ok
        FROM corpus
    ),
    lang AS (
        SELECT doc_id,
               CASE WHEN non_ascii * 4 > n THEN 'cjk'
                    WHEN greatest(se, sf, sd, ss) = 0 THEN 'und'
                    WHEN se = greatest(se, sf, sd, ss) THEN 'en'
                    WHEN sf = greatest(se, sf, sd, ss) THEN 'fr'
                    WHEN sd = greatest(se, sf, sd, ss) THEN 'de'
                    ELSE 'es' END AS predicted_lang
        FROM (SELECT doc_id,
                     len(regexp_extract_all(lower(text), '{_EN}')) AS se,
                     len(regexp_extract_all(lower(text), '{_FR}')) AS sf,
                     len(regexp_extract_all(lower(text), '{_DE}')) AS sd,
                     len(regexp_extract_all(lower(text), '{_ES}')) AS ss,
                     length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) AS non_ascii,
                     length(text) AS n
              FROM corpus)
    ),
    keep1 AS (
        SELECT c.doc_id, c.source, c.text, q.n_tokens
        FROM corpus c
        JOIN q ON q.doc_id = c.doc_id
        JOIN lang l ON l.doc_id = c.doc_id
        WHERE q.quality_ok AND l.predicted_lang = 'en'
    ),
    canon AS (SELECT min(doc_id) AS doc_id FROM keep1 GROUP BY md5(text)),
    keep2 AS (SELECT k.* FROM keep1 k JOIN canon USING (doc_id)),
    {_shingle_overlap_ctes('keep2')},
    neardup AS (
        SELECT DISTINCT d2 AS doc_id
        FROM inter
        JOIN sizes s1 ON s1.doc_id = d1
        JOIN sizes s2 ON s2.doc_id = d2
        WHERE CAST(n_inter AS BIGINT) * 1000000 // (s1.sz + s2.sz - n_inter) >= 800000
    ),
    keep3 AS (
        SELECT * FROM keep2 WHERE doc_id NOT IN (SELECT doc_id FROM neardup)
    ),
    toks AS (
        SELECT doc_id, {_words('text', lower=True)} AS t,
               len({_words('text', lower=True)}) AS n
        FROM keep3
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, n - 6),
                   i -> array_to_string(t[i:i+7], ' ')))) AS gram
        FROM toks WHERE n >= 8
    ),
    bench AS (
        SELECT DISTINCT unnest(list_distinct(list_transform(range(1, n - 6),
                   i -> array_to_string(t[i:i+7], ' ')))) AS gram
        FROM (SELECT {_words('text', lower=True)} AS t,
                     len({_words('text', lower=True)}) AS n
              FROM documents WHERE source = 'src0')
        WHERE n >= 8
    ),
    contaminated AS (SELECT DISTINCT g.doc_id FROM grams g JOIN bench b USING (gram))
    SELECT doc_id, source, n_tokens FROM keep3
    WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    """,
    doc="End-to-end corpus curation (operators.text.curate): the standard "
    "C4/RefinedWeb-style cleaning cascade — quality gate -> language gate "
    "-> exact dedup -> shingle-Jaccard near-dedup (keep-earliest) -> "
    "benchmark decontamination vs the source='src0' slice — composed from "
    "the individually-oracled stages (q41, q42, q40, x45, q63) and "
    "verified END-TO-END against one WITH-chain twin, the same integration "
    "discipline q34 applies to the 37-model ecom DAG. Cheapest filters run "
    "first so the join stages see only the filtered remnant.",
    tags=("LLM", "pipeline", "dedup"),
)
def x79_corpus_curation(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.curate(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
        jaccard_threshold_e6=800_000,
        contamination_n=8,
    )


@register(
    "x80_lm_quality_score",
    # Add-one smoothed char-trigram LM trained on the source='src0' slice;
    # every candidate trigram's log-likelihood is floor-e6 quantized to an
    # integer BEFORE the per-doc sum, so the aggregate is order-independent
    # (ln's floor-e6 is empirically bit-stable across engines; raw ln
    # doubles differ in the last ulp — see operators.text.lm_score).
    oracle="""
    WITH rg AS (
        SELECT unnest([substr(text, i, 3) for i in range(1, length(text) - 1)]) AS gram
        FROM documents WHERE source = 'src0' AND length(text) >= 3
    ),
    model AS (SELECT gram, count(*) AS n FROM rg GROUP BY gram),
    ctx AS (SELECT substr(gram, 1, 2) AS cx, sum(n) AS cn FROM model GROUP BY 1),
    v AS (SELECT count(DISTINCT substr(gram, 3, 1)) AS v FROM model),
    dg AS (
        SELECT doc_id,
               unnest([substr(text, i, 3) for i in range(1, length(text) - 1)]) AS gram
        FROM documents WHERE source <> 'src0' AND length(text) >= 3
    ),
    scored AS (
        SELECT dg.doc_id,
               CAST(floor(ln(CAST(coalesce(m.n, 0) + 1 AS DOUBLE)
                              / CAST(coalesce(x.cn, 0) + v.v AS DOUBLE)) * 1e6)
                    AS BIGINT) AS ll_e6
        FROM dg
        LEFT JOIN model m ON m.gram = dg.gram
        LEFT JOIN ctx x ON x.cx = substr(dg.gram, 1, 2)
        CROSS JOIN v
    )
    SELECT doc_id,
           count(*) AS n_trigrams,
           CAST(-sum(ll_e6) AS BIGINT) // count(*) AS nll_e6
    FROM scored GROUP BY doc_id
    """,
    doc="LM quality scoring (operators.text.lm_trigram_model + lm_score; "
    "CCNet-style, Wenzek et al. 2020): mean negative log-likelihood per "
    "char trigram under an add-one smoothed model of the source='src0' "
    "reference slice — low nll_e6 = looks like known-good text, "
    "perplexity = exp(nll_e6/1e6). Model + context table broadcast "
    "(bounded by charset^3 at any corpus size); candidate side is one "
    "scan + explode + broadcast joins + one doc-id groupBy.",
    tags=("LLM", "text-analysis", "quality"),
)
def x80_lm_quality_score(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    model = tx.lm_trigram_model(d.filter(F.col("source") == "src0"))
    return tx.lm_score(d.filter(F.col("source") != "src0"), model)


@register(
    "x81_span_dedup",
    # DuckDB twin of span_dedup(span_words=10): parallel unnests zip
    # positionally, so pos and span enumerate together; keep = global
    # row_number 1 by (doc_id, pos) per span text; ordered string_agg
    # reassembly mirrors Spark's array_sort(collect_list(struct)).
    oracle=f"""
    WITH words AS (
        SELECT doc_id, {_words('text', null_empty=True)} AS t,
               len({_words('text', null_empty=True)}) AS n
        FROM documents
    ),
    spans AS (
        SELECT doc_id,
               unnest(range(0, (n - 1) // 10 + 1)) AS pos,
               unnest([array_to_string(t[i * 10 + 1 : i * 10 + 10], ' ')
                       for i in range(0, (n - 1) // 10 + 1)]) AS span
        FROM words
    ),
    ranked AS (
        SELECT doc_id, pos, span,
               row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
        FROM spans
    ),
    re AS (
        SELECT doc_id,
               string_agg(span, ' ' ORDER BY pos) AS clean_text,
               count(*) AS n_kept
        FROM ranked WHERE rn = 1 GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id)
    SELECT t.doc_id,
           coalesce(r.clean_text, '') AS clean_text,
           t.n_spans,
           t.n_spans - coalesce(r.n_kept, 0) AS n_removed
    FROM totals t LEFT JOIN re r ON r.doc_id = t.doc_id
    """,
    doc="Span-level dedup (operators.text.span_dedup; C4 / Raffel et al. "
    "2020 §2.2): tile documents into 10-word spans, keep only the globally "
    "first occurrence of each repeated span, reassemble in document order "
    "— the passage-granular filter that catches boilerplate shared across "
    "otherwise-distinct documents, where whole-document dedup (q40/q48) "
    "sees nothing. One posexplode + one uniform-key rank shuffle + one "
    "ordered reassembly; hash spans before the shuffle at real scale.",
    tags=("LLM", "dedup", "spans"),
)
def x81_span_dedup(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.span_dedup(d, span_words=10)


def _x82_oracle(k: int, dim: int, n_centroids: int, nprobe: int, n_queries: int, seed: int = 42) -> str:
    """DuckDB twin of knn_join over the seeded codebook: q51's assignment +
    probe fragments generalized per query row — probe cells ranked
    (sim DESC, cell DESC) per q_id, candidates met on the cell equi-join,
    per-query top-k by (cosine DESC, vec_id ASC) row_number."""
    cents = sim.make_centroids(dim, n_centroids, seed)
    return f"""
    WITH {_assign_ctes(cents)},
    {_qsims_cte(cents, f'vec_id < {n_queries}')},
    {_probe_cells_cte(n_centroids, nprobe, 'DESC')},
    cand AS (
        SELECT q.q_id, a.vec_id, {_cos('a.embedding', 'q.qe')} AS cosine
        FROM qcells c
        JOIN (SELECT q_id, qe FROM qsims) q ON q.q_id = c.q_id
        JOIN assigned a ON a.cell = c.cell
    )
    SELECT q_id, vec_id, cosine, CAST(rnk AS INT) AS rnk FROM (
        SELECT q_id, vec_id, cosine,
               row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rnk
        FROM cand
    ) WHERE rnk <= {k}
    """


@register(
    "x82_knn_join",
    oracle=_x82_oracle(k=5, dim=64, n_centroids=8, nprobe=4, n_queries=5),
    doc="Batch k-NN join (operators.similarity.knn_join): per-QUERY-ROW "
    "top-k by cosine over the nprobe nearest IVF cells — the many-query "
    "generalization of q51's single broadcast vector. Queries explode to "
    "(q_id, cell) rows and meet cell-assigned items in a plain equi-join, "
    "hash-partitioned on both sides, so the same plan serves a billion-row "
    "query table where a broadcast cannot; per-query top-k is one window "
    "rank. Seeded codebook makes index + search oracle-checked end-to-end; "
    "bucketed-by-cell item storage makes the item side exchange-free.",
    tags=("LLM", "similarity", "knn"),
)
def x82_knn_join(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    centroids = sim.make_centroids(dim=64, n_centroids=8, seed=42)
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    return sim.knn_join(e, queries, centroids, k=5, nprobe=4)


def _x83_oracle(threshold: float, dim: int, n_centroids: int, cutoff: int, seed: int = 42) -> str:
    """DuckDB twin of semantic_dedup_incremental: x78's assignment +
    dominance fragments, applied first to the corpus slice (vec_id <
    cutoff) to reproduce its kept set, then the frozen-corpus veto join,
    then the within-batch sweep over the survivors."""
    cents = sim.make_centroids(dim, n_centroids, seed)
    cos_ab = _cos("a.embedding", "b.embedding")
    tau = f"CAST({threshold!r} AS DOUBLE)"
    dominates = (
        "a.cell = b.cell AND a.vec_id <> b.vec_id"
        " AND (a.csim < b.csim OR (a.csim = b.csim AND a.vec_id < b.vec_id))"
    )
    return f"""
    WITH {_assign_ctes(cents)},
    c_removed AS (
        SELECT DISTINCT b.vec_id
        FROM assigned a JOIN assigned b ON {dominates}
        WHERE a.vec_id < {cutoff} AND b.vec_id < {cutoff} AND {cos_ab} >= {tau}
    ),
    corpus_kept AS (
        SELECT * FROM assigned
        WHERE vec_id < {cutoff} AND vec_id NOT IN (SELECT vec_id FROM c_removed)
    ),
    batch AS (SELECT * FROM assigned WHERE vec_id >= {cutoff}),
    veto AS (
        SELECT DISTINCT b.vec_id
        FROM corpus_kept a JOIN batch b ON a.cell = b.cell
        WHERE {cos_ab} >= {tau}
    ),
    b1 AS (SELECT * FROM batch WHERE vec_id NOT IN (SELECT vec_id FROM veto)),
    b_removed AS (
        SELECT DISTINCT b.vec_id
        FROM b1 a JOIN b1 b ON {dominates}
        WHERE {cos_ab} >= {tau}
    )
    SELECT vec_id, cell FROM b1
    WHERE vec_id NOT IN (SELECT vec_id FROM b_removed)
    """


_X83_CUTOFF = 400


@register(
    "x83_incremental_semantic_dedup",
    oracle=_x83_oracle(threshold=0.35, dim=64, n_centroids=8, cutoff=_X83_CUTOFF),
    doc="Frozen-corpus incremental SemDeDup "
    "(operators.similarity.semantic_dedup_incremental): dedup the weekly "
    "embedding drop (vec_id >= 400) against the already-curated corpus "
    "kept set without re-pairing history — kept corpus rows veto near-dup "
    "batch rows unconditionally, survivors run the standard within-batch "
    "sweep. The embedding-space twin of x75's MinHash band-store probe. "
    "Deliberately NOT a full recompute: kept history never retires "
    "(append-only-store contract, difference pinned in tests). Both "
    "stages are cell-equi-joins; the corpus side reads from a "
    "bucketed-by-cell kept store with no exchange.",
    tags=("LLM", "dedup", "semantic", "incremental"),
)
def x83_incremental_semantic_dedup(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    centroids = sim.make_centroids(dim=64, n_centroids=8, seed=42)
    corpus = e.filter(F.col("vec_id") < _X83_CUTOFF)
    batch = e.filter(F.col("vec_id") >= _X83_CUTOFF)
    kept = sim.semantic_dedup(corpus, centroids, threshold=0.35)
    # localCheckpoint = the materialized kept-set STORE of the production
    # contract (the incremental path reads kept history from disk, never
    # re-derives it); without it the corpus-dedup lineage is embedded —
    # and recomputed — once per downstream reference (veto + sweep).
    corpus_kept = corpus.join(
        kept.select("vec_id"), "vec_id", "left_semi"
    ).localCheckpoint(eager=False)
    return sim.semantic_dedup_incremental(
        batch, corpus_kept.select("vec_id", "embedding"), centroids, threshold=0.35
    )


def _x84_oracle(splits_e6: dict[str, int], seed: int) -> str:
    """DuckDB twin of shuffle_split: same cumulative md5-hex thresholds,
    same shuffle salt."""
    case = _split_case(splits_e6, seed)
    return f"""
    SELECT doc_id,
           {case} AS split,
           md5('shuffle:{seed}:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
    FROM documents
    """


_X84_SPLITS = {"train": 900_000, "val": 50_000, "test": 50_000}


@register(
    "x84_shuffle_split",
    oracle=_x84_oracle(_X84_SPLITS, seed=42),
    doc="Deterministic corpus shuffle + train/val/test split assignment "
    "(operators.sampling.shuffle_split): split membership and global "
    "training order are pure md5 functions of (seed, doc_id) — "
    "reproducible across engines/runs/partitionings, split resize never "
    "reorders training data (independent salts). Per-row hash + compare, "
    "zero shuffle; the order materializes at write time via one "
    "repartitionByRange on shuffle_key.",
    tags=("LLM", "sampling", "shuffle"),
)
def x84_shuffle_split(spark, sf_dir):
    from ..operators.sampling import shuffle_split

    d = load(spark, sf_dir, "documents").select("doc_id")
    return shuffle_split(d, _X84_SPLITS, id_col="doc_id", seed=42)


def _minhash_estimate_oracle(num_hashes: int, bands: int, threshold_e6: int) -> str:
    """DuckDB twin of minhash_estimate_pairs(hash_fn='md5'): the q48
    oracle's sh/sig/banded/cand CTEs, then signature-agreement counting
    instead of exact-Jaccard verification."""
    agree = _agree(num_hashes, "s1", "s2")
    return f"""
    WITH {_minhash_ctes(num_hashes, bands)},
    cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT c.d1, c.d2,
           CAST(({agree}) AS BIGINT) * 1000000 // {num_hashes} AS jaccard_e6
    FROM cand c
    JOIN sig s1 ON s1.doc_id = c.d1
    JOIN sig s2 ON s2.doc_id = c.d2
    WHERE CAST(({agree}) AS BIGINT) * 1000000 // {num_hashes} >= {threshold_e6}
    """


@register(
    "x85_minhash_estimate_pairs",
    oracle=_minhash_estimate_oracle(num_hashes=32, bands=8, threshold_e6=800_000),
    doc="Signature-estimated near-dup pairs "
    "(operators.text.minhash_estimate_pairs): same MinHash signatures and "
    "band candidates as q48, but jaccard_e6 = agreeing components * 1e6 "
    "div num_hashes — no exact verification, no second pass over the "
    "documents. The production path on precision-hostile (boilerplate-"
    "heavy) corpora where banding false positives make verification the "
    "dominant cost; probes only the narrow (id, 32-int) signature table "
    "per candidate. md5 variant, estimate deterministic given the seeded "
    "hashes, so the oracle match is exact.",
    tags=("LLM", "dedup", "lsh"),
)
def x85_minhash_estimate_pairs(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.minhash_estimate_pairs(
        d, k=3, num_hashes=32, bands=8, threshold_e6=800_000, hash_fn="md5"
    )


_X86_QUOTAS = {"src0": 40, "src1": 25, "src2": 10}


def _x86_oracle(quotas: dict[str, int], seed: int) -> str:
    """DuckDB twin of exact_quota_sample: same md5 rank key, same id
    tiebreak, same per-stratum quota CASE."""
    case = (
        "CASE "
        + " ".join(f"WHEN source = '{s}' THEN {q}" for s, q in sorted(quotas.items()))
        + " ELSE 0 END"
    )
    return f"""
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY substr(md5('{seed}:' || CAST(doc_id AS VARCHAR)), 1, 8),
                            doc_id
               ) AS rk
        FROM documents
    )
    WHERE rk <= {case}
    """


@register(
    "x86_exact_quota_sample",
    oracle=_x86_oracle(_X86_QUOTAS, seed=42),
    doc="Exact-count deterministic sampling "
    "(operators.sampling.exact_quota_sample): EXACTLY N rows per stratum "
    "by ranking the (seed, id) md5 hash with an id tiebreak — fixed-size "
    "eval/calibration sets the binomial rate samplers cannot guarantee; "
    "monotone under quota growth, stable across engines/runs/"
    "partitionings. One window rank per stratum, single shuffle.",
    tags=("LLM", "sampling"),
)
def x86_exact_quota_sample(spark, sf_dir):
    from ..operators.sampling import exact_quota_sample

    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    return exact_quota_sample(d, _X86_QUOTAS, seed=42)


_X87_K = 15

@register(
    "x87_exact_substring_dedup",
    # DuckDB twin of exact_substring_dedup(k=15, hash_fn="md5"): parallel
    # unnests zip positionally (x81 pattern); the rank key is md5('0:'||
    # gram) — the _seeded_hash_sql(seed=0) layout both engines produce
    # byte-identically; covered positions distinct in a subquery because
    # DISTINCT must apply AFTER the range unnest expands.
    oracle=f"""
    WITH words AS (
        SELECT doc_id, {_words('text', null_empty=True)} AS t,
               len({_words('text', null_empty=True)}) AS n
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(range(0, n - {_X87_K} + 1)) AS pos,
               unnest([md5('0:' || array_to_string(t[i + 1 : i + {_X87_K}], ' '))
                       for i in range(0, n - {_X87_K} + 1)]) AS g
        FROM words WHERE n >= {_X87_K}
    ),
    ranked AS (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        FROM grams
    ),
    covered AS (
        SELECT DISTINCT doc_id, wpos FROM (
            SELECT doc_id, unnest(range(pos, pos + {_X87_K})) AS wpos
            FROM ranked WHERE rn > 1
        )
    ),
    tokens AS (
        SELECT doc_id, unnest(range(0, n)) AS wpos, unnest(t) AS word
        FROM words
    ),
    kept AS (
        SELECT tk.doc_id, tk.wpos, tk.word
        FROM tokens tk LEFT JOIN covered c
          ON c.doc_id = tk.doc_id AND c.wpos = tk.wpos
        WHERE c.doc_id IS NULL
    ),
    re AS (
        SELECT doc_id, string_agg(word, ' ' ORDER BY wpos) AS clean_text,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, count(*) AS n_tokens FROM tokens GROUP BY doc_id)
    SELECT t.doc_id, coalesce(r.clean_text, '') AS clean_text,
           t.n_tokens, t.n_tokens - coalesce(r.n_kept, 0) AS n_removed
    FROM totals t LEFT JOIN re r ON r.doc_id = t.doc_id
    """,
    doc="ExactSubstr cross-document substring dedup "
    "(operators.text.exact_substring_dedup; Lee et al. 2021, "
    "arXiv:2107.06499 §4.1): erase every word inside a >=15-word "
    "substring that occurs earlier in the corpus, keeping the first "
    "occurrence — the sliding-window complement to x81's C4 tiling, "
    "catching boilerplate at arbitrary offsets. Grams are md5-hashed "
    "BEFORE the rank shuffle (8-32 bytes/window, never k-word text); "
    "uniform hash keys, no skew at any scale.",
    tags=("LLM", "dedup", "spans"),
)
def x87_exact_substring_dedup(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.exact_substring_dedup(d, k=_X87_K)


_X88_BUDGET = 15_000

@register(
    "x88_token_budget_select",
    # DuckDB twin: one global SUM() OVER (ORDER BY score DESC, doc_id) —
    # fine in a single-node engine, exactly the one-reducer shape the
    # Spark operator replaces with bucketed prefix sums. sum(BIGINT) is
    # HUGEINT in DuckDB — cast back.
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)
                   * 1000000 // length(text)                AS score,
               CAST(len({_words('text')}) AS BIGINT)
                                                            AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, score, n_tokens,
               CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id)
                    AS BIGINT)                              AS cum_tokens
        FROM scored
    )
    SELECT doc_id, score, n_tokens, cum_tokens
    FROM c WHERE cum_tokens - n_tokens < {_X88_BUDGET}
    """,
    doc="Token-budget corpus selection "
    "(operators.sampling.token_budget_select): keep the highest-"
    "alpha-ratio documents until the token budget fills (greedy, last doc "
    "may overshoot) — the 'best B tokens' cut every pretraining mix ends "
    "with. The global running sum is bucketed: approx-quantile score "
    "cuts -> per-bucket windows -> driver prefix sum over n_buckets "
    "scalars, never a single-partition SUM() OVER (ORDER BY ...).",
    tags=("LLM", "sampling", "selection"),
)
def x88_token_budget_select(spark, sf_dir):
    from ..operators.sampling import token_budget_select

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "CAST(length(regexp_replace(text, '[^a-zA-Z]', '')) AS BIGINT)"
            " * 1000000 div length(text)"
        ).alias("score"),
        tx.token_count("text").cast("bigint").alias("n_tokens"),
    )
    return token_budget_select(d, _X88_BUDGET, "score", "n_tokens")


_X89_V = 20

@register(
    "x89_vocab_coverage",
    # DuckDB twin: the vocab is the top-V tokens by (count DESC, token
    # ASC) — the deterministic tie order both engines share for plain
    # ASCII tokens; per-doc OOV via LEFT JOIN + FILTER counts.
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_words('text', null_empty=True)}) AS tok
        FROM documents
    ),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, count(*) AS n FROM toks GROUP BY tok
            ORDER BY n DESC, tok LIMIT {_X89_V}
        )
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT)                                AS n_tokens,
           CAST(count(*) FILTER (WHERE v.tok IS NULL) AS BIGINT)   AS n_oov,
           CAST(count(*) FILTER (WHERE v.tok IS NULL) AS BIGINT)
               * 1000000 // count(*)                               AS oov_rate_e6
    FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
    GROUP BY t.doc_id
    """,
    doc="Vocabulary coverage (operators.text.vocab_coverage): top-V "
    "token vocabulary by (count DESC, token ASC) + per-document OOV "
    "counts and e6 rate — the first question a tokenizer build asks of a "
    "corpus. Map-side-combinable token count, TakeOrdered top-V (the one "
    "deliberately tiny relation), explicit V-row broadcast back into the "
    "token stream, one doc aggregation — the fact side never shuffles on "
    "the token.",
    tags=("LLM", "text-analysis", "vocab"),
)
def x89_vocab_coverage(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.vocab_coverage(d, vocab_size=_X89_V)


def _fuzzy_decontam_oracle(num_hashes: int, bands: int, threshold_e6: int) -> str:
    """DuckDB twin of decontaminate_fuzzy(hash_fn='md5'): x85's sig/band
    CTEs with the source column carried through, candidates restricted to
    corpus-vs-benchmark, max signature-agreement estimate per corpus doc."""
    agree = _agree(num_hashes, "s1", "s2")
    return f"""
    WITH {_minhash_ctes(num_hashes, bands, keys='doc_id, source')},
    cand AS (
        SELECT DISTINCT c.doc_id AS cid, b.doc_id AS bid
        FROM banded c
        JOIN banded b ON c.band = b.band AND c.bucket = b.bucket
        WHERE c.source <> 'src0' AND b.source = 'src0'
    ),
    est AS (
        SELECT c.cid,
               max(CAST(({agree}) AS BIGINT) * 1000000 // {num_hashes})
                   AS max_jaccard_e6
        FROM cand c
        JOIN sig s1 ON s1.doc_id = c.cid
        JOIN sig s2 ON s2.doc_id = c.bid
        GROUP BY c.cid
    )
    SELECT d.doc_id,
           coalesce(e.max_jaccard_e6, 0) >= {threshold_e6} AS contaminated,
           CAST(coalesce(e.max_jaccard_e6, 0) AS BIGINT)   AS max_jaccard_e6
    FROM documents d LEFT JOIN est e ON e.cid = d.doc_id
    WHERE d.source <> 'src0'
    """


@register(
    "x90_fuzzy_decontamination",
    oracle=_fuzzy_decontam_oracle(num_hashes=32, bands=8, threshold_e6=600_000),
    doc="Fuzzy benchmark decontamination "
    "(operators.text.decontaminate_fuzzy): flag corpus docs whose "
    "signature-estimated Jaccard vs ANY source='src0' benchmark doc "
    "reaches 0.6 — the paraphrase-tolerant complement to q63's exact "
    "n-gram filter (GPT-3 appendix-C-style). Benchmark bands and "
    "signatures broadcast (bounded side); corpus never re-read after "
    "signing; no corpus-vs-corpus pairing — linear in corpus size.",
    tags=("LLM", "dedup", "decontamination", "lsh"),
)
def x90_fuzzy_decontamination(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.decontaminate_fuzzy(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
        num_hashes=32,
        bands=8,
        threshold_e6=600_000,
        hash_fn="md5",
    )


_X91_B = 4096

# WITH-chain body shared by x91 (weights) and x95 (weights + Gumbel
# top-k resample): DuckDB twin of dsir_weights — o_h60 % B buckets
# (bit-identical to Spark's h60), add-one smoothing, per-term floor-e6
# ln quantization BEFORE the doc sum (the lm_score cross-engine
# discipline).
_X91_ORACLE_CORE = f"""
    WITH tok AS (
        SELECT doc_id, source,
               {_words('text', null_empty=True)} AS t
        FROM documents
    ),
    feats AS (
        SELECT doc_id, source, unnest(t) AS g FROM tok
        UNION ALL
        SELECT doc_id, source,
               unnest([array_to_string(t[i:i+1], ' ') for i in range(1, len(t))])
                   AS g
        FROM tok WHERE len(t) >= 2
    ),
    cb AS (
        SELECT doc_id,
               {o_h60('g')}
                   % {_X91_B} AS b
        FROM feats WHERE source <> 'src0'
    ),
    tb AS (
        SELECT {o_h60('g')}
                   % {_X91_B} AS b
        FROM feats WHERE source = 'src0'
    ),
    rc AS (SELECT b, count(*) AS rn FROM cb GROUP BY b),
    tc AS (SELECT b, count(*) AS tn FROM tb GROUP BY b),
    tot AS (SELECT (SELECT count(*) FROM cb) AS tr,
                   (SELECT count(*) FROM tb) AS tt),
    lr AS (
        SELECT rc.b,
               CAST(floor(ln(CAST(coalesce(tc.tn, 0) + 1 AS DOUBLE)
                             / CAST(tot.tt + {_X91_B} AS DOUBLE)) * 1e6)
                  - floor(ln(CAST(rc.rn + 1 AS DOUBLE)
                             / CAST(tot.tr + {_X91_B} AS DOUBLE)) * 1e6)
                    AS BIGINT) AS llr_e6
        FROM rc LEFT JOIN tc ON tc.b = rc.b CROSS JOIN tot
    ),
    w AS (
        SELECT c.doc_id,
               CAST(count(*) AS BIGINT)      AS n_feats,
               CAST(sum(l.llr_e6) AS BIGINT) AS logw_e6
        FROM cb c JOIN lr l ON l.b = c.b
        GROUP BY c.doc_id
    )
"""


@register(
    "x91_dsir_importance_weights",
    oracle=_X91_ORACLE_CORE + "SELECT doc_id, n_feats, logw_e6 FROM w",
    doc="DSIR importance weights (operators.text.dsir_weights; Xie et "
    "al. 2023): log-likelihood ratio of hashed word uni+bigram buckets "
    "under target (source='src0') vs raw distribution, add-one smoothed "
    "— 'select pretraining data that looks like the target domain'. "
    "Bucket tables bounded by B and broadcast; corpus side is one "
    "explode + broadcast join + doc groupBy, no feature-keyed shuffle. "
    "Per-term floor-e6 quantization keeps the doc sum order-independent "
    "and cross-engine exact.",
    tags=("LLM", "sampling", "selection"),
)
def x91_dsir_importance_weights(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.dsir_weights(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
        n_buckets=_X91_B,
    )


@register(
    "x92_corpus_report",
    # DuckDB twin: q41's quality expressions + q42's language CASE folded
    # into one per-row CTE, then per-source aggregation. sum(BIGINT) is
    # HUGEINT in DuckDB — cast every aggregate back.
    oracle=f"""
    WITH per AS (
        SELECT source,
               md5(text) AS h,
               len({_words('text')}) AS n_toks,
               CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)
                   * 1000000 // length(text) AS alpha_e6,
               (length(text) >= 20
                 AND len({_words('text')}) >= 5
                 AND length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 2
                     > length(text)) AS quality_ok,
               CASE WHEN length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) * 4
                         > length(text) THEN 'cjk'
                    WHEN greatest(len(regexp_extract_all(lower(text), '{_EN}')),
                                  len(regexp_extract_all(lower(text), '{_FR}')),
                                  len(regexp_extract_all(lower(text), '{_DE}')),
                                  len(regexp_extract_all(lower(text), '{_ES}'))) = 0
                         THEN 'und'
                    WHEN len(regexp_extract_all(lower(text), '{_EN}'))
                         = greatest(len(regexp_extract_all(lower(text), '{_EN}')),
                                    len(regexp_extract_all(lower(text), '{_FR}')),
                                    len(regexp_extract_all(lower(text), '{_DE}')),
                                    len(regexp_extract_all(lower(text), '{_ES}')))
                         THEN 'en'
                    WHEN len(regexp_extract_all(lower(text), '{_FR}'))
                         = greatest(len(regexp_extract_all(lower(text), '{_EN}')),
                                    len(regexp_extract_all(lower(text), '{_FR}')),
                                    len(regexp_extract_all(lower(text), '{_DE}')),
                                    len(regexp_extract_all(lower(text), '{_ES}')))
                         THEN 'fr'
                    WHEN len(regexp_extract_all(lower(text), '{_DE}'))
                         = greatest(len(regexp_extract_all(lower(text), '{_EN}')),
                                    len(regexp_extract_all(lower(text), '{_FR}')),
                                    len(regexp_extract_all(lower(text), '{_DE}')),
                                    len(regexp_extract_all(lower(text), '{_ES}')))
                         THEN 'de'
                    ELSE 'es' END AS predicted_lang
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT)                          AS n_docs,
           CAST(sum(n_toks) AS BIGINT)                       AS n_tokens,
           CAST(count(*) - count(DISTINCT h) AS BIGINT)      AS n_exact_dups,
           CAST(count(*) FILTER (WHERE quality_ok) * 1000000
                // count(*) AS BIGINT)                       AS quality_ok_e6,
           CAST(count(*) FILTER (WHERE predicted_lang = 'en') * 1000000
                // count(*) AS BIGINT)                       AS lang_en_e6,
           CAST(sum(alpha_e6) // count(*) AS BIGINT)         AS mean_alpha_e6
    FROM per GROUP BY source
    """,
    doc="Per-source corpus report card (operators.text.corpus_report): "
    "doc/token volume, exact-dup count, quality-gate share, English "
    "share, mean alpha ratio — the before/after summary every curation "
    "run is judged by. One scan of scan-side expressions + one source "
    "groupBy; only the per-group COUNT(DISTINCT md5) adds a shuffle.",
    tags=("LLM", "text-analysis", "report"),
)
def x92_corpus_report(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.corpus_report(d)


@register(
    "x93_bpe_pair_counts",
    # DuckDB twin: word-frequency table first (same scale shape), then a
    # list comprehension enumerates within-word adjacent char pairs
    # (1-based inclusive slicing; range(1, len) stops before the last
    # char, so length-1 words contribute nothing — mirroring the Spark
    # length >= 2 filter).
    oracle=f"""
    WITH words AS (
        SELECT lower(unnest({_words('text', null_empty=True)})) AS word
        FROM documents
    ),
    wf AS (
        SELECT word, count(*) AS n FROM words
        WHERE length(word) >= 2 GROUP BY word
    ),
    pairs AS (
        SELECT unnest([{{'a': word[i:i], 'b': word[i+1:i+1]}}
                       for i in range(1, length(word))]) AS p, n
        FROM wf
    )
    SELECT p.a AS a, p.b AS b, CAST(sum(n) AS BIGINT) AS n_occurrences
    FROM pairs GROUP BY 1, 2
    """,
    doc="BPE first-merge pair statistics (operators.text.bpe_pair_counts; "
    "Sennrich et al. 2016 §3.2): corpus-wide adjacent-character pair "
    "counts over the word-frequency table — the ranking a tokenizer "
    "trainer reads to pick its first merge. Explode fans out from the "
    "distinct-word relation, not the token stream; pair keys are "
    "alphabet^2-bounded, both shuffles map-side combinable.",
    tags=("LLM", "tokenizer", "text-analysis"),
)
def x93_bpe_pair_counts(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.bpe_pair_counts(d)


@register(
    "x94_corpus_diff",
    # Both engines derive old/new snapshots from documents with the same
    # arithmetic: old drops doc_id % 7 == 0, new drops doc_id % 11 == 3
    # and rewrites text for doc_id % 5 == 0 — exercising all four
    # statuses. FULL OUTER on the id, md5-of-coalesced-text comparison.
    oracle="""
    WITH old AS (
        SELECT doc_id, md5(coalesce(text, '')) AS h
        FROM documents WHERE doc_id % 7 <> 0
    ),
    nw AS (
        SELECT doc_id,
               md5(coalesce(CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
                                 ELSE text END, '')) AS h
        FROM documents WHERE doc_id % 11 <> 3
    )
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.h <> n.h THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM old o FULL OUTER JOIN nw n ON n.doc_id = o.doc_id
    """,
    doc="Corpus snapshot diff (operators.text.corpus_diff): one row per "
    "id in either version with status added/removed/changed/unchanged by "
    "content hash — the audit a corpus release cut runs. Two (id, md5) "
    "projections + one full outer equi-join; text never ships.",
    tags=("LLM", "ops", "report"),
)
def x94_corpus_diff(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 7 != 0)
    new = d.filter(F.col("doc_id") % 11 != 3).withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")),
    )
    return tx.corpus_diff(old, new)


@register(
    "x95_dsir_resample",
    # x91's weight chain + the Gumbel-top-k resample: key_e6 = logw_e6 +
    # floor(-ln(-ln(u)) * 1e6) with u the h60 uniform of '42:'||doc_id —
    # verified bit-stable Spark-vs-DuckDB on 200k samples, so both
    # engines select the identical 500 documents.
    oracle=_X91_ORACLE_CORE + f"""
    SELECT doc_id, n_feats, logw_e6, key_e6 FROM (
        SELECT w.*,
               CAST(logw_e6 + floor(-ln(-ln(
                   ({o_h60("'42:' || CAST(doc_id AS VARCHAR)")} + 0.5) / 1152921504606846976.0))
                   * 1e6) AS BIGINT) AS key_e6
        FROM w
    ) ORDER BY key_e6 DESC, doc_id LIMIT 500
    """,
    doc="DSIR importance RESAMPLING (operators.sampling.gumbel_topk_sample "
    "over x91's weights; Xie et al. 2023 + Kool et al. 2019): select 500 "
    "documents with probability proportional to their importance weight, "
    "jointly without replacement, via Gumbel-top-k keys. Deterministic "
    "noise from the h60 uniform, floor-e6-quantized before the addition "
    "— integer ranking, cross-engine exact. One scan + one TakeOrdered; "
    "no shuffle, no RNG state.",
    tags=("LLM", "sampling", "selection"),
)
def x95_dsir_resample(spark, sf_dir):
    from ..operators.sampling import gumbel_topk_sample

    d = load(spark, sf_dir, "documents")
    w = tx.dsir_weights(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
        n_buckets=_X91_B,
    )
    return gumbel_topk_sample(w, "logw_e6", n=500, seed=42)


@register(
    "x96_bm25_scores",
    # DuckDB twin of bm25_scores(['spark','hash','merge','window']):
    # k1=6/5, b=3/4 clear the weight fraction to the integer ratio
    # 44*T*tf / (20*T*tf + 6*T + 18*dl*N); idf floor-e6 per term, one
    # identical IEEE divide+multiply per (doc, term), integer doc sum.
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               {_words('text', lower=True, null_empty=True)} AS t
        FROM documents
    ),
    dl AS (SELECT doc_id, len(t) AS dl FROM toks),
    stats AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS tt FROM dl),
    hits AS (
        SELECT doc_id, unnest(list_filter(t,
               x -> x IN ('spark', 'hash', 'merge', 'window'))) AS term
        FROM toks
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM hits GROUP BY 1, 2),
    docfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    idf AS (
        SELECT term, df,
               CAST(floor(ln(1.0 + (stats.n - df + 0.5) / (df + 0.5))
                          * 1000000.0) AS BIGINT) AS idf_e6
        FROM docfreq CROSS JOIN stats
    ),
    scored AS (
        SELECT tf.doc_id,
               CAST(floor((44.0 * stats.tt * tf.tf)
                          / (20.0 * stats.tt * tf.tf + 6.0 * stats.tt
                             + 18.0 * dl.dl * stats.n)
                          * idf.idf_e6) AS BIGINT) AS s_e6
        FROM tf JOIN idf ON idf.term = tf.term
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
           CAST(sum(s_e6) AS BIGINT) AS score_e6
    FROM scored GROUP BY doc_id
    """,
    doc="Okapi BM25 ranking (operators.text.bm25_scores; Robertson & "
    "Zaragoza 2009, k1=1.2 b=0.75): lexical retrieval over the corpus "
    "against a query term bag — pairs with the ANN family for hybrid "
    "search. Rational k1/b clear the weight to an integer ratio and the "
    "per-term idf is floor-e6-quantized, so per-doc sums are "
    "order-independent integers, cross-engine exact. Explode-side term "
    "filter prunes before any shuffle; df aggregate bounded by |query|.",
    tags=("LLM", "retrieval", "text-analysis"),
)
def x96_bm25_scores(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.bm25_scores(d, ["spark", "hash", "merge", "window"])


@register(
    "x97_cohort_retention",
    # Daily cohorts (the sf window spans one month): users cohorted by
    # first-event date; retention counts distinct active users per
    # (cohort_day, days_since). Pure integer date arithmetic both engines.
    oracle="""
    WITH firsts AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    )
    SELECT f.cohort_day,
           date_diff('day', f.cohort_day, a.day) AS days_since,
           count(DISTINCT a.user_id)             AS n_users
    FROM activity a JOIN firsts f ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
    doc="Cohort retention over the event stream: users cohorted by "
    "first-seen date, distinct active users per (cohort, day offset) — "
    "the product-analytics staple the reference's marts feed. Shape: one "
    "per-user min aggregate + one distinct-activity projection + an "
    "equi-join on the user key; at scale both sides pre-aggregate to "
    "|users| and |user-days| before the join.",
    tags=("analytics", "A1", "F13"),
)
def x97_cohort_retention(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_day"))
    activity = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("days_since"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@register(
    "x98_rfm_segments",
    # RFM quartiles via ntile(4) — identical floor-allocation bucketing
    # in both engines given the identical total order (metric, user_id);
    # monetary rides the bp fixed-point integer so the order is exact.
    oracle="""
    WITH base AS (
        SELECT user_id,
               date_diff('day', max(CAST(ts AS DATE)), DATE '2024-02-01')
                   AS recency_days,
               count(CASE WHEN event_type = 'purchase' THEN 1 END) AS frequency,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN CAST(floor(value * 10000 + 0.5) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS monetary_bp
        FROM events GROUP BY user_id
    )
    SELECT user_id, recency_days, frequency, monetary_bp,
           ntile(4) OVER (ORDER BY recency_days DESC, user_id) AS r_score,
           ntile(4) OVER (ORDER BY frequency ASC, user_id)     AS f_score,
           ntile(4) OVER (ORDER BY monetary_bp ASC, user_id)   AS m_score
    FROM base
    """,
    doc="RFM segmentation (recency / purchase frequency / monetary "
    "quartiles) — the marketing-analytics classic over the event stream; "
    "fixed anchor date keeps recency deterministic (F10 injectable-clock "
    "convention) and bp fixed-point monetary keeps the quartile order "
    "engine-exact. Size-gated like q22/x107: below the gate the literal "
    "three global ntile windows (the oracle surface), above it "
    "operators.sampling.exact_ntile_hist_multi — one exact monotone "
    "fine-histogram pass, then a tile-map output with ZERO shuffles of "
    "the main frame (boundary-straddling value groups resolve via "
    "threshold-key broadcasts), BIT-IDENTICAL tiles without any "
    "single-reducer sort (parity pinned both ways in "
    "tests/test_operators.py).",
    tags=("analytics", "W1", "A3"),
)
def x98_rfm_segments(spark, sf_dir):
    from .catalog_core import _BROADCAST_GATE_BYTES, _parquet_bytes

    base = _rfm_base(spark, sf_dir)
    if _parquet_bytes(sf_dir, "events") < _BROADCAST_GATE_BYTES:
        return _rfm_ntile_window(base)
    return _rfm_ntile_bucketed(base)


def _rfm_base(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    is_p = F.col("event_type") == "purchase"
    # max BEFORE the date truncation (monotone, so max(to_date(ts)) ==
    # to_date(max(ts))): the cast runs once per user instead of per event
    return e.groupBy("user_id").agg(
        F.max("ts").alias("_max_ts"),
        F.count(F.when(is_p, 1)).alias("frequency"),
        F.sum(
            F.when(is_p, F.expr("CAST(floor(value * 10000 + 0.5D) AS BIGINT)"))
            .otherwise(F.lit(0))
        ).cast("long").alias("monetary_bp"),
    ).select(
        "user_id",
        F.datediff(
            F.lit("2024-02-01").cast("date"), F.to_date("_max_ts")
        ).alias("recency_days"),
        "frequency",
        "monetary_bp",
    )


def _rfm_ntile_window(base):
    """Literal ntile windows — oracle-shaped; one global total order per
    score (fine while |users| fits one reducer's sort)."""
    from pyspark.sql import Window

    return base.select(
        "*",
        F.ntile(4).over(Window.orderBy(F.desc("recency_days"), F.asc("user_id"))).alias("r_score"),
        F.ntile(4).over(Window.orderBy(F.asc("frequency"), F.asc("user_id"))).alias("f_score"),
        F.ntile(4).over(Window.orderBy(F.asc("monetary_bp"), F.asc("user_id"))).alias("m_score"),
    )


def _rfm_ntile_bucketed(base):
    """Scale shape: three exact bucketed ntiles (each one range-bucketed
    exchange), identical output — no global sort anywhere.

    The r/f/m tiles are independent of each other, and all three metrics
    are integral (days / counts / bp fixed-point), so the histogram form
    computes all three off the checkpointed ``base`` in a FIXED two jobs
    (one pass materializes the checkpoint AND collects the exact
    monotone fine-histogram counts — replacing round-8's separate
    approxQuantile + stats jobs — then one output pass chains the three
    bucket-partitioned window ranks). Parity with the window branch is
    pinned in test_rfm_bucketed_branch_matches_window; the operator's
    own parity/NULL tests live in test_operators.py."""
    from ..operators.sampling import exact_ntile_hist_multi

    return exact_ntile_hist_multi(
        base, 4,
        [
            ("recency_days", "r_score", True),
            ("frequency", "f_score", False),
            ("monetary_bp", "m_score", False),
        ],
        "user_id",
    )


@register(
    "x99_sessionization",
    # DuckDB islands twin of Spark's session_window(gap=30m): a new
    # session starts when ts - lag(ts) >= gap (session_window merges on
    # strict window OVERLAP, end-exclusive), session_end = max(ts) + gap.
    # Equal-ts ties collapse into one session regardless of lag order, so
    # the island assignment is deterministic; value sums ride bp
    # fixed-point integers.
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts,
               CAST(floor(value * 10000 + 0.5) AS BIGINT) AS value_bp,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
        SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
        FROM ordered
    )
    SELECT user_id,
           min(ts)                       AS session_start,
           max(ts) + INTERVAL 30 MINUTE  AS session_end,
           CAST(count(*) AS BIGINT)      AS n_events,
           CAST(sum(value_bp) AS BIGINT) AS value_bp
    FROM sess GROUP BY user_id, sid
    """,
    doc="Gap-based sessionization (streaming.sessionize batch mode, "
    "Spark session_window 30m) — the same operator the streaming path "
    "runs with a watermark, now DuckDB-oracled via the SQL islands "
    "rewrite (lag-gap flag + running sum). One session-window aggregate "
    "= one user-key exchange; bp fixed-point keeps the value sum exact.",
    tags=("streaming", "W1", "analytics"),
)
def x99_sessionization(spark, sf_dir):
    from ..streaming.sessionize import sessionize

    e = load(spark, sf_dir, "events").select(
        "user_id", "ts",
        F.expr("CAST(floor(value * 10000 + 0.5D) AS BIGINT)").alias("value_bp"),
    )
    return sessionize(
        e, gap="30 minutes", ts_col="ts", key_cols=["user_id"],
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_bp").cast("long").alias("value_bp"),
        ],
    )


@register(
    "x100_funnel_conversion",
    # Ordered funnel view -> click -> purchase: each step's anchor is the
    # user's FIRST qualifying event STRICTLY AFTER the previous step's
    # anchor. Pure min-ts joins — integer-exact timestamps both engines.
    oracle="""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t
        FROM events e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t
        FROM events e JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id
    )
    SELECT 1 AS step, 'view' AS event_type,
           CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
    UNION ALL
    SELECT 2, 'click', CAST((SELECT count(*) FROM s2) AS BIGINT)
    UNION ALL
    SELECT 3, 'purchase', CAST((SELECT count(*) FROM s3) AS BIGINT)
    """,
    doc="Ordered funnel conversion (view -> click -> purchase): users "
    "counted at each step only when the step's first qualifying event "
    "falls strictly after their previous step's anchor — the product "
    "funnel the reference's interaction marts feed. Shape: K chained "
    "per-user min aggregates + user-key equi-joins; each stage input "
    "shrinks to the surviving users, so at 100 TB only |users|-sized "
    "relations chain after the first conditional aggregate.",
    tags=("analytics", "A3", "J1"),
)
def x100_funnel_conversion(spark, sf_dir):
    e = load(spark, sf_dir, "events")

    def first_after(step_type, prev):
        q = e.filter(F.col("event_type") == step_type)
        if prev is not None:
            q = q.join(prev, "user_id").filter(F.col("ts") > F.col("t")).drop("t")
        return q.groupBy("user_id").agg(F.min("ts").alias("t"))

    s1 = first_after("view", None)
    s2 = first_after("click", s1)
    s3 = first_after("purchase", s2)
    rows = None
    for step, (name, s) in enumerate(
        [("view", s1), ("click", s2), ("purchase", s3)], start=1
    ):
        r = s.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
            F.lit(step).alias("step"), F.lit(name).alias("event_type"), "n_users"
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows


@register(
    "x105_bpe_merges",
    # Iterative trainer state (argmax -> merge -> recount) is not
    # SQL-expressible, so no DuckDB twin exists for the full sequence —
    # the driver records the rows-only check (like x33). The loop's base
    # case IS oracled: iteration 1's pair statistics are exactly x93
    # (bpe_pair_counts), and the whole merge sequence + the greedy merge
    # are pinned against a pure-Python Sennrich reference in
    # tests/test_operators.py::test_bpe_train_matches_python_reference.
    oracle=None,
    doc="BPE tokenizer training (operators.text.bpe_train; "
    "Sennrich et al. 2016 Algorithm 1): 8 merges learned from the "
    "documents corpus — returns the merges.txt artifact (rank, a, b, "
    "merged, n_occurrences). One distributed scan builds the "
    "|vocab|-bounded word-frequency table and collects it once; the "
    "merge loop then runs driver-side (pair -> words inverted index + "
    "lazy-deletion heap, O(touched words) per merge), so vocabulary-scale "
    "training is not one Spark job per merge.",
    tags=("LLM", "tokenizer", "iterative"),
)
def x105_bpe_merges(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.bpe_train(d, n_merges=8)


@register(
    "x110_quality_classifier",
    # Gradient-descent training is iterative (like x105's BPE loop) — no
    # SQL twin exists, so the driver records the rows-only check. The
    # behavioral contract is pytest-pinned (planted separable corpora
    # separate, training is bit-deterministic thanks to e6-integer
    # gradients, zero-weight scores are exactly sigmoid(0)); the
    # generative counterpart of the same estimator IS fully oracled (x91
    # dsir_weights, same h60 hashed feature space).
    oracle=None,
    doc="GPT-3-style discriminative quality classifier (Brown et al. 2020 "
    "appendix A; operators.text.quality_classifier_train/_score): "
    "logistic regression on binary hashed unigram+bigram features, "
    "trained src0-vs-rest by full-batch GD with e6-integer gradients "
    "(bit-reproducible at any parallelism), then scores every corpus "
    "doc. Training folds features to one bucket-array row per doc "
    "(bias as the constant bucket -1); an iteration is then ONE job — "
    "margin and residual are per-row expressions, the only exchange is "
    "the map-side-combined gradient groupBy collected at <= n_buckets+1 "
    "rows — weights are driver-bounded by construction.",
    tags=("LLM", "quality", "iterative"),
)
def x110_quality_classifier(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    target = d.filter(F.col("source") == "src0")
    corpus = d.filter(F.col("source") != "src0")
    w = tx.quality_classifier_train(corpus, target, n_buckets=512, n_iters=8)
    return tx.quality_classifier_score(corpus, w)


@register(
    "x111_canonical_dedup",
    # DuckDB regexp_replace needs the 'g' flag (first-match-only default);
    # Spark replaces all matches by default. The corpus is mutated with
    # case/punctuation/spacing variants of real documents so the entry
    # proves canonicalization actually coarsens groups (raw md5 keeps the
    # variants distinct; both engines must agree on which docs collapse).
    oracle=r"""
    WITH variants AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000,
               upper(text) || '!!'
        FROM documents WHERE doc_id % 97 = 0
    )
    SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS canonical_hash,
           min(doc_id) AS canonical_doc_id,
           count(*)    AS n_copies
    FROM variants
    GROUP BY 1
    """,
    doc="Canonicalize-then-hash dedup (operators.text.canonical_dedup_groups; "
    "the RefinedWeb/C4 pre-hash normalization): lowercase + punctuation "
    "strip + whitespace collapse, then the q40 hash-groupBy. The entry "
    "plants uppercase+punctuated variants of every 97th document and both "
    "engines must collapse exactly those pairs. Same one-shuffle scale "
    "shape as q40; the normal form is computed in the scan projection.",
    tags=("LLM", "dedup"),
)
def x111_canonical_dedup(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    variants = d.unionByName(
        d.filter(F.col("doc_id") % 97 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.upper("text"), F.lit("!!")).alias("text"),
            *[c for c in d.columns if c not in ("doc_id", "text")],
        ).select(*d.columns)
    )
    return tx.canonical_dedup_groups(variants)


@register(
    "x112_gopher_repetition",
    # Word-n-gram repetition signals; fractions ride e6 integer division
    # (// in DuckDB, div in Spark) so both engines emit identical longs,
    # and the top-2-gram argmax tie-breaks lexicographically in both
    # (min(struct(-cnt, g)) here, ORDER BY cnt DESC, gr ASC there).
    oracle=f"""
    WITH w AS (
        SELECT doc_id,
               length(coalesce(text, '')) AS tlen,
               {_words('text', null_empty=True, ws_trim=True)} AS ws
        FROM documents
    ),
    g AS (
        SELECT doc_id, tlen, 2 AS n,
               unnest(list_transform(range(1, len(ws)),
                      i -> ws[i] || ' ' || ws[i+1])) AS gr
        FROM w WHERE len(ws) >= 2
        UNION ALL
        SELECT doc_id, tlen, 5 AS n,
               unnest(list_transform(range(1, len(ws) - 3),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                           || ' ' || ws[i+3] || ' ' || ws[i+4])) AS gr
        FROM w WHERE len(ws) >= 5
    ),
    c AS (
        SELECT doc_id, n, gr, any_value(tlen) AS tlen, count(*) AS cnt
        FROM g GROUP BY doc_id, n, gr
    ),
    r AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id, n
                                     ORDER BY cnt DESC, gr ASC) AS rk
        FROM c
    ),
    p AS (
        SELECT doc_id, n, any_value(tlen) AS tlen,
               count(*) AS distinct_g, CAST(sum(cnt) AS BIGINT) AS total_g,
               max(CASE WHEN rk = 1 THEN cnt END) AS top_cnt,
               max(CASE WHEN rk = 1 THEN gr END) AS top_g
        FROM r GROUP BY doc_id, n
    ),
    s AS (
        SELECT doc_id, n,
               CAST((total_g - distinct_g) * 1000000 // total_g AS BIGINT)
                   AS dup_frac_e6,
               CASE WHEN n = 2 AND tlen > 0
                    THEN CAST(CAST(top_cnt AS BIGINT) * length(top_g)
                              * 1000000 // tlen AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS top_frac_e6
        FROM p
    )
    SELECT w.doc_id,
           CAST(len(w.ws) AS BIGINT) AS n_words,
           CAST(coalesce(max(CASE WHEN s.n = 2 THEN s.dup_frac_e6 END), 0)
                AS BIGINT) AS dup_2gram_frac_e6,
           CAST(coalesce(max(CASE WHEN s.n = 5 THEN s.dup_frac_e6 END), 0)
                AS BIGINT) AS dup_5gram_frac_e6,
           CAST(coalesce(max(CASE WHEN s.n = 2 THEN s.top_frac_e6 END), 0)
                AS BIGINT) AS top_2gram_char_frac_e6
    FROM w LEFT JOIN s ON s.doc_id = w.doc_id
    GROUP BY w.doc_id, len(w.ws)
    """,
    doc="Gopher/MassiveText repetition filters (Rae et al. 2021 A1.1), "
    "word-n-gram variant (operators.text.gopher_repetition_stats): "
    "per-document duplicate-2-gram and duplicate-5-gram fractions plus "
    "the character mass of the most frequent 2-gram — the boilerplate / "
    "degenerate-repetition signals every pretraining corpus is filtered "
    "on. Shape: one tagged-gram explode, one (doc, n, gram) count, one "
    "(doc, n) fold — two doc-key exchanges, map-side-combinable partials, "
    "argmax as min(struct(-cnt, g)) (never a window).",
    tags=("LLM", "quality"),
)
def x112_gopher_repetition(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.gopher_repetition_stats(d)


@register(
    "x113_pii_redaction_planted",
    # q54 proves NO false positives (the corpus is PII-free); this entry
    # proves redaction actually FIRES: one email and one phone planted
    # per document (deterministic from doc_id) with identical concat SQL
    # in both engines, then the same operators.text.redact_pii. DuckDB
    # regexp_replace needs the 'g' flag (first-match-only default).
    oracle=r"""
    WITH planted AS (
        SELECT doc_id,
               coalesce(text, '') || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@example.com or call 555-867-5309 now' AS text
        FROM documents
    ),
    e AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
                   AS n_emails,
               regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g')
                   AS after_email
        FROM planted
    )
    SELECT doc_id, n_emails,
           CAST(len(regexp_extract_all(after_email, '\+?[0-9][0-9() .-]{7,}[0-9]')) AS BIGINT)
               AS n_phones,
           regexp_replace(after_email, '\+?[0-9][0-9() .-]{7,}[0-9]', '[PHONE]', 'g')
               AS redacted_text
    FROM e
    """,
    doc="Planted-PII redaction (operators.text.redact_pii over documents "
    "with one synthetic email + phone appended per row): q54 runs the "
    "scrubber over the PII-free corpus and proves zero false positives; "
    "this entry proves the rules FIRE — both engines must find and "
    "replace exactly the planted spans, email rule before phone rule so "
    "the address's digit runs are never split. Same per-row codegen "
    "regexp shape as q54, no shuffle.",
    tags=("LLM", "text-analysis", "pii"),
)
def x113_pii_redaction_planted(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call 555-867-5309 now"),
        ).alias("text"),
    )
    return tx.redact_pii(planted)


@register(
    "x114_gopher_quality_signals",
    # The non-repetition half of Gopher A1.1: every signal is a per-row
    # expression; fractions ride e6 integer division (// vs div) and the
    # word split / line split / trim semantics are pinned identical
    # (string_split_regex + chr(10) split keep trailing empties in both
    # engines; ltrim/rtrim default to space-trimming in both).
    oracle=rf"""
    WITH base AS (
        SELECT doc_id,
               coalesce(text, '') AS t,
               {_words('text', null_empty=True, ws_trim=True)} AS ws,
               string_split(coalesce(text, ''), chr(10)) AS ls
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               CAST(len(ws) AS BIGINT) AS n_words,
               CAST(len(ls) AS BIGINT) AS n_lines,
               CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0)
                    AS BIGINT) AS sum_wlen,
               CAST(length(t) - length(replace(t, '#', '')) AS BIGINT)
                   + CAST(len(regexp_extract_all(t, '\.\.\.|…')) AS BIGINT)
                   AS n_symbols,
               CAST(len(list_filter(ls,
                    l -> substr(ltrim(l), 1, 1) IN ('•', '-', '*')))
                    AS BIGINT) AS n_bullet_lines,
               CAST(len(list_filter(ls,
                    l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…'))
                    AS BIGINT) AS n_ellipsis_lines,
               CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
                    AS BIGINT) AS n_alpha_words,
               CAST(list_contains(list_transform(ws, w -> lower(w)), 'the') AS BIGINT)
                 + CAST(list_contains(list_transform(ws, w -> lower(w)), 'be') AS BIGINT)
                 + CAST(list_contains(list_transform(ws, w -> lower(w)), 'to') AS BIGINT)
                 + CAST(list_contains(list_transform(ws, w -> lower(w)), 'of') AS BIGINT)
                 + CAST(list_contains(list_transform(ws, w -> lower(w)), 'and') AS BIGINT)
                 + CAST(list_contains(list_transform(ws, w -> lower(w)), 'that') AS BIGINT)
                 + CAST(list_contains(list_transform(ws, w -> lower(w)), 'have') AS BIGINT)
                 + CAST(list_contains(list_transform(ws, w -> lower(w)), 'with') AS BIGINT)
                   AS n_required_stopwords
        FROM base
    ),
    s AS (
        SELECT doc_id, n_words,
               CASE WHEN n_words > 0
                    THEN CAST(sum_wlen * 1000000 // n_words AS BIGINT)
                    ELSE 0 END AS mean_word_len_e6,
               CASE WHEN n_words > 0
                    THEN CAST(n_symbols * 1000000 // n_words AS BIGINT)
                    ELSE 0 END AS symbol_word_ratio_e6,
               CASE WHEN n_lines > 0
                    THEN CAST(n_bullet_lines * 1000000 // n_lines AS BIGINT)
                    ELSE 0 END AS bullet_line_frac_e6,
               CASE WHEN n_lines > 0
                    THEN CAST(n_ellipsis_lines * 1000000 // n_lines AS BIGINT)
                    ELSE 0 END AS ellipsis_line_frac_e6,
               CASE WHEN n_words > 0
                    THEN CAST(n_alpha_words * 1000000 // n_words AS BIGINT)
                    ELSE 0 END AS alpha_word_frac_e6,
               n_required_stopwords
        FROM m
    )
    SELECT *,
           (n_words BETWEEN 50 AND 100000
            AND mean_word_len_e6 BETWEEN 3000000 AND 10000000
            AND symbol_word_ratio_e6 <= 100000
            AND bullet_line_frac_e6 <= 100000
            AND ellipsis_line_frac_e6 <= 300000
            AND alpha_word_frac_e6 >= 800000
            AND n_required_stopwords >= 2) AS passes_gopher
    FROM s
    """,
    doc="The full Gopher A1.1 quality rule set beyond repetition "
    "(operators.text.gopher_quality_stats): word-count bounds, mean word "
    "length, '#'/ellipsis symbol-to-word ratio, bullet-start and "
    "ellipsis-end line fractions, the 80%%-alphabetic-words rule, and "
    "the 8-stopword requirement — emitted per document with the combined "
    "passes_gopher verdict (completes x112; together they are Rae et "
    "al.'s MassiveText filter). Shape: pure per-row expressions, zero "
    "shuffle, one codegen stage over the scan.",
    tags=("LLM", "quality"),
)
def x114_gopher_quality_signals(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.gopher_quality_stats(d)


@register(
    "x116_c4_line_filters",
    # C4's line rules as list_filter lambdas; the word-count-per-line
    # reuses the x112/x114 whitespace-trim discipline so both engines
    # tokenize lines identically; kept_text is the newline rejoin and
    # every count is a plain integer.
    oracle=rf"""
    WITH base AS (
        SELECT doc_id, coalesce(text, '') AS t,
               string_split(coalesce(text, ''), chr(10)) AS ls
        FROM documents
    ),
    k AS (
        SELECT doc_id, t, ls,
               list_filter(ls, l ->
                   (rtrim(l) LIKE '%.' OR rtrim(l) LIKE '%!'
                    OR rtrim(l) LIKE '%?' OR rtrim(l) LIKE '%"')
                   AND len({_words('l', ws_trim=True)}) >= 5
                   AND NOT contains(lower(l), 'javascript')
               ) AS kept
        FROM base
    ),
    m AS (
        SELECT doc_id,
               CAST(len(ls) AS BIGINT) AS n_lines,
               CAST(len(kept) AS BIGINT) AS n_kept_lines,
               coalesce(array_to_string(kept, chr(10)), '') AS kept_text,
               contains(lower(t), 'lorem ipsum') AS has_lorem_ipsum,
               contains(t, '{{') AS has_brace
        FROM k
    ),
    s AS (
        SELECT doc_id, n_lines, n_kept_lines,
               CAST(length(kept_text) AS BIGINT) AS kept_chars,
               CAST((length(kept_text) - length(replace(kept_text, '.', '')))
                  + (length(kept_text) - length(replace(kept_text, '!', '')))
                  + (length(kept_text) - length(replace(kept_text, '?', '')))
                  AS BIGINT) AS n_sentences,
               has_lorem_ipsum, has_brace, kept_text
        FROM m
    )
    SELECT doc_id, n_lines, n_kept_lines, kept_chars, n_sentences,
           has_lorem_ipsum, has_brace,
           (n_sentences >= 3 AND NOT has_lorem_ipsum AND NOT has_brace)
               AS passes_c4,
           kept_text
    FROM s
    """,
    doc="C4 preprocessing rules (Raffel et al. 2020 §2.2, "
    "operators.text.c4_line_filters): keep lines ending in terminal "
    "punctuation with >= 5 words and no 'javascript'; drop pages with "
    "< 3 sentences, 'lorem ipsum', or a '{'. Emits the per-document "
    "rule signals, the page verdict, AND the filtered kept_text the "
    "tokenizer/packing stages consume — with x112/x114 this completes "
    "the two canonical pretraining corpus filters. Shape: line-split + "
    "array-filter HOFs, pure per-row expressions, zero shuffle.",
    tags=("LLM", "quality"),
)
def x116_c4_line_filters(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.c4_line_filters(d)


# x117's oracle COMPOSES the two already-registered twins instead of
# restating them: x79's end-to-end curation WITH-chain gains a gopher
# gate CTE built from x114's full signal query (rebased onto the corpus
# slice), and keep1 requires membership. Deriving the SQL from REGISTRY
# keeps the three entries' semantics locked together — a fix to either
# fragment propagates into this one. The synthetic vocabulary carries
# only ONE Gopher stopword ('the'), so the raw corpus can never satisfy
# the >=2-distinct-stopwords rule — like x113's planted PII, every third
# document gets a deterministic stopword-rich prefix (all 8 required
# words) with the identical expression in both engines, so the verdict
# genuinely fires AND genuinely rejects within one run.
_X117_PREFIX = "the words that we have to keep and be sure of with "
_X117_ORACLE = (
    REGISTRY["x79_corpus_curation"].oracle.replace(
        "WITH corpus AS (SELECT * FROM documents WHERE source <> 'src0'),",
        "WITH corpus AS (\n"
        "        SELECT doc_id, source,\n"
        "               CASE WHEN doc_id % 3 = 0\n"
        f"                    THEN '{_X117_PREFIX}' || coalesce(text, '')\n"
        "                    ELSE text END AS text\n"
        "        FROM documents WHERE source <> 'src0'\n"
        "    ),",
        1,
    ).replace(
        "q AS (",
        "gq AS (SELECT doc_id FROM ("
        + REGISTRY["x114_gopher_quality_signals"].oracle.replace(
            "FROM documents", "FROM corpus"
        )
        + ") WHERE passes_gopher),\n    q AS (",
        1,
    ).replace(
        "WHERE q.quality_ok AND l.predicted_lang = 'en'",
        "WHERE q.quality_ok AND l.predicted_lang = 'en'\n"
        "          AND c.doc_id IN (SELECT doc_id FROM gq)",
    )
)


@register(
    "x117_curate_gopher",
    oracle=_X117_ORACLE,
    doc="x79's curation cascade with quality='gopher': stage 1 "
    "additionally requires the full Gopher A1.1 verdict (x114's "
    "passes_gopher — word-count bounds, mean word length, symbol/"
    "bullet/ellipsis ratios, 80%-alpha rule, required stopwords) via "
    "one id semi-join ahead of dedup — the MassiveText-filtered "
    "variant of the standard cleaning pipeline "
    "(operators.text.curate(quality='gopher')). Oracle composed from "
    "the registered x79 + x114 twins, so the three entries cannot "
    "drift apart.",
    tags=("LLM", "pipeline", "quality"),
)
def x117_curate_gopher(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("source") != "src0").select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(_X117_PREFIX), F.coalesce(F.col("text"), F.lit(""))),
        ).otherwise(F.col("text")).alias("text"),
    )
    return tx.curate(
        corpus,
        d.filter(F.col("source") == "src0"),
        jaccard_threshold_e6=800_000,
        contamination_n=8,
        quality="gopher",
    )


_X118_SEG_WORDS = 8
_X118_MAX_OCC = 1


@register(
    "x118_segment_frequency_filter",
    # Same word-split + tiling expressions as x81's span oracle; the kept
    # set differs: segments whose CORPUS count exceeds max_occurrences
    # vanish from every document (no keep-first survivor).
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               {_words('text', null_empty=True)} AS words
        FROM documents
    ),
    segs AS (
        SELECT doc_id, CAST(t.g AS INTEGER) AS pos,
               array_to_string(
                   words[(t.g * {_X118_SEG_WORDS} + 1):
                         (t.g * {_X118_SEG_WORDS} + {_X118_SEG_WORDS})],
                   ' ') AS seg
        FROM base, unnest(range((len(words) - 1) // {_X118_SEG_WORDS} + 1))
             AS t(g)
    ),
    over_freq AS (
        SELECT seg FROM segs GROUP BY seg
        HAVING count(*) > {_X118_MAX_OCC}
    ),
    kept AS (
        SELECT s.* FROM segs s
        WHERE s.seg NOT IN (SELECT seg FROM over_freq)
    ),
    reassembled AS (
        SELECT doc_id,
               string_agg(seg, ' ' ORDER BY pos) AS clean_text,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id
    ),
    totals AS (
        SELECT doc_id, count(*) AS n_segments FROM segs GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(r.clean_text, '') AS clean_text,
           t.n_segments,
           t.n_segments - coalesce(r.n_kept, 0) AS n_removed
    FROM totals t LEFT JOIN reassembled r USING (doc_id)
    """,
    doc="CCNet/RefinedWeb boilerplate removal "
    "(operators.text.segment_frequency_filter): drop EVERY copy of any "
    "8-word segment occurring more than once corpus-wide, reassemble "
    "survivors in document order. The complement of x81's C4 keep-first "
    "span dedup — over-frequent boilerplate (nav menus, license headers) "
    "is removed from ALL pages, not blessed once. One explode, one count "
    "shuffle, one join back, one ordered reassembly; at 100 TB the count "
    "runs on segment hashes and the over-frequent set broadcasts.",
    tags=("LLM", "dedup", "quality"),
)
def x118_segment_frequency_filter(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.segment_frequency_filter(
        d, seg_words=_X118_SEG_WORDS, max_occurrences=_X118_MAX_OCC
    )


# Planted denormalized Unicode for x119 — the synthetic corpus is pure
# ASCII, so (like x113's planted PII and x117's planted stopwords) every
# third document gets a deterministic prefix containing decomposed
# sequences that NFC must precompose: e + U+0301 -> é, A + U+030A -> Å,
# n + U+0303 -> ñ. The identical expression builds the raw text in both
# engines; Spark normalizes via unicodedata, DuckDB via nfc_normalize.
_X119_SPARK_PREFIX = "Cafe\u0301 A\u030A n\u0303 "
_X119_SQL_PREFIX = (
    "'Caf' || chr(101) || chr(769) || ' ' || chr(65) || chr(778)"
    " || ' ' || chr(110) || chr(771) || ' '"
)


@register(
    "x119_unicode_nfc",
    oracle=f"""
    WITH planted AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN {_X119_SQL_PREFIX} || coalesce(text, '')
                    ELSE text END AS text
        FROM documents
    )
    SELECT doc_id,
           nfc_normalize(text) AS text_norm,
           (text IS DISTINCT FROM nfc_normalize(text)) AS changed,
           length(text) AS n_chars_raw,
           length(nfc_normalize(text)) AS n_chars_norm
    FROM planted
    """,
    doc="Unicode NFC canonicalization (operators.text.unicode_normalize): "
    "decomposed combining sequences precompose so 'é' spelled two ways "
    "dedups as one — the normalization stage ahead of every hash-keyed "
    "dedup in a multilingual pipeline. Spark has no built-in normalizer: "
    "the kernel is the documented Arrow-batched mapInPandas exception "
    "(per-row pure function, zero shuffle), oracled against DuckDB's "
    "nfc_normalize over identically-planted denormalized prefixes.",
    tags=("LLM", "quality", "text"),
)
def x119_unicode_nfc(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(_X119_SPARK_PREFIX), F.coalesce(F.col("text"), F.lit(""))),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return tx.unicode_normalize(planted, form="NFC")


def _x120_oracle(drop_frac_e6: int, dim: int, n_centroids: int, seed: int = 42) -> str:
    """DuckDB twin of density_prune: the literal-codebook assignment (rows
    with no cell dropped, as the operator drops them), then a per-cell rank
    by (csim DESC, vec_id ASC) keeping ranks past the integer-floor drop
    count."""
    cents = sim.make_centroids(dim, n_centroids, seed)
    return f"""
    WITH {_assign_ctes(cents, guard=True)},
    ranked AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY cell
                                  ORDER BY csim DESC, vec_id ASC) AS cell_rank,
               count(*) OVER (PARTITION BY cell) AS n
        FROM assigned
    )
    SELECT vec_id, cell, cell_rank FROM ranked
    WHERE cell_rank > n * {drop_frac_e6} // 1000000
    """


@register(
    "x120_density_prune",
    oracle=_x120_oracle(drop_frac_e6=250_000, dim=64, n_centroids=8),
    doc="D4 prototypicality pruning (Tirumala et al. 2023, "
    "arXiv:2308.12284; operators.similarity.density_prune): within each "
    "semantic cell drop the 25% of rows MOST similar to their own "
    "centroid — the dense redundant core — and keep the diverse "
    "remainder; the paper's second stage after SemDeDup (x78). "
    "Assignment is the scan-side literal codebook; rank/count windows "
    "partition on cell (width bounded by sizing n_centroids ~0.1% N), "
    "one exchange total. Integer-floor drop count is bit-stable across "
    "engines.",
    tags=("LLM", "dedup", "semantic", "sampling"),
)
def x120_density_prune(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    centroids = sim.make_centroids(dim=64, n_centroids=8, seed=42)
    return sim.density_prune(e, centroids, drop_frac_e6=250_000)


_PQ_M, _PQ_K, _PQ_DIM = 4, 4, 64


def _pq_half_norm(s: int, j: int, c: list[float]) -> str:
    """x121/x122's PQ score offset: ||c||^2/2 as the operator's own
    driver-side double."""
    return _dbl(sim.sq_norm_lit(c) / 2.0)


def _x121_oracle() -> str:
    books = sim.make_pq_codebooks(_PQ_DIM, _PQ_M, _PQ_K, seed=42)
    codes_str = " || '-' || ".join(f"CAST(c{s} AS VARCHAR)" for s in range(_PQ_M))
    return f"""
    WITH {_pq_code_ctes(books, _pq_half_norm)}
    SELECT vec_id, {codes_str} AS codes_str FROM coded
    """


@register(
    "x121_pq_encode",
    oracle=_x121_oracle(),
    doc="Product-quantization encoding (Jégou et al. 2011; "
    "operators.similarity.pq_encode): each vector compresses to m=4 "
    "subspace codes — argmin-by-L2 against the seeded per-subspace "
    "codebooks, computed as argmax of dot - ||c||^2/2 with first-index "
    "ties, entirely scan-side literals (no shuffle, no Python at oracle "
    "geometry; the numpy kernel auto-dispatches at m*k > 32 like the IVF "
    "assigner). Codes emit as a joined string for the driver "
    "canonicalizer. At m=8 production geometry the code column is 32x "
    "smaller than the float32 vectors it replaces.",
    tags=("LLM", "similarity", "ann"),
)
def x121_pq_encode(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    books = sim.make_pq_codebooks(_PQ_DIM, _PQ_M, _PQ_K, seed=42)
    coded = sim.pq_encode(e, books, method="expr")
    return coded.select(
        "vec_id",
        F.array_join(F.transform("codes", lambda c: c.cast("string")), "-").alias(
            "codes_str"
        ),
    )


def _x122_oracle(k: int, query_seed: int) -> str:
    import numpy as np

    books = sim.make_pq_codebooks(_PQ_DIM, _PQ_M, _PQ_K, seed=42)
    q = np.random.RandomState(query_seed).standard_normal(_PQ_DIM).tolist()
    dotT, nrm2T, qn = sim.pq_adc_tables(books, q)
    dot_chain = _fold(
        f"CAST(({_dbl_list(dotT[s])})[c{s} + 1] AS DOUBLE)" for s in range(_PQ_M)
    )
    nrm_chain = _fold(
        f"CAST(({_dbl_list(nrm2T[s])})[c{s} + 1] AS DOUBLE)" for s in range(_PQ_M)
    )
    return f"""
    WITH {_pq_code_ctes(books, _pq_half_norm)}
    SELECT vec_id,
           {dot_chain} / ({_dbl(qn)} * sqrt({nrm_chain})) AS adc_cos
    FROM coded
    ORDER BY adc_cos DESC, vec_id ASC
    LIMIT {k}
    """


@register(
    "x122_pq_topk",
    oracle=_x122_oracle(k=10, query_seed=7),
    doc="ADC top-k over PQ codes (operators.similarity.ann_topk_pq): "
    "score = cosine(query, PQ reconstruction) via m literal table "
    "lookups per row — the driver-side dot/norm tables are IEEE folds "
    "shared with the oracle through pq_adc_tables, so every double is "
    "bit-checked end to end. The memory-bound 100 TB ANN shape: the "
    "scan reads only the m-int code column (never the float vectors), "
    "and the top-k is a TakeOrdered map-side partial. Exact re-rank of "
    "the ADC top-N is the standard refinement (compose with "
    "ann_topk_bruteforce over the survivors).",
    tags=("LLM", "similarity", "ann"),
)
def x122_pq_topk(spark, sf_dir):
    import numpy as np

    e = load(spark, sf_dir, "embeddings")
    books = sim.make_pq_codebooks(_PQ_DIM, _PQ_M, _PQ_K, seed=42)
    q = np.random.RandomState(7).standard_normal(_PQ_DIM).tolist()
    coded = sim.pq_encode(e, books, method="expr")
    return sim.ann_topk_pq(coded, books, q, k=10)


def _x123_oracle(
    k: int, dim: int, n_centroids: int, nprobe: int, n_queries: int
) -> str:
    """DuckDB twin of RESIDUAL ivfadc_knn_join(method='expr'): x82's
    coarse-cell assignment + probe fragments (ties to the LOWEST cell,
    matching the operator's (sim, -cell) struct); item PQ codes are the
    residual argmax — raw subspace dot minus the per-(cell, subspace, code)
    adjustment literal of ``ivfadc_residual_tables``, indexed by cell — and
    the reconstruction norm indexes the same function's ``crn2T`` by
    [cell][code]. Per-query ADC dot tables ride as computed columns plus
    the full-dim query·centroid dots (the residual coarse term, seeding the
    ADC fold, so its doubles land in the output: ``_fold`` chains)."""
    cents = sim.make_centroids(dim, n_centroids, seed=42)
    books = sim.make_pq_codebooks(dim, _PQ_M, _PQ_K, seed=42)
    adjT, crn2T = sim.ivfadc_residual_tables(cents, books)
    dsub = dim // _PQ_M
    pq_ctes = _pq_code_ctes(
        books,
        lambda s, j, c: f"({_dbl_list([adjT[cell][s][j] for cell in range(n_centroids)])})[cell + 1]",
        src="assigned",
        keys="vec_id, cell",
    )
    # reconstruction norm: crn2T[cell][code_s] nested-literal lookups
    rn2 = _fold(
        "(["
        + ", ".join(_dbl_list(crn2T[c][s]) for c in range(n_centroids))
        + f"])[cell + 1][c{s} + 1]"
        for s in range(_PQ_M)
    )
    q_dott = ",\n               ".join(
        f"{_chain_dot('qe', [_dbl(x) for x in c], s * dsub)} AS d{s}_{j}"
        for s, book in enumerate(books)
        for j, c in enumerate(book)
    )
    q_cdots = ",\n               ".join(
        f"{_chain_dot('qe', [_dbl(x) for x in c])} AS qd{i}" for i, c in enumerate(cents)
    )
    qnorm = _norm("qe")
    qd_all = ", ".join(f"q.qd{i}" for i in range(n_centroids))
    adc = _fold(
        (f"([{', '.join(f'q.d{s}_{j}' for j in range(_PQ_K))}])[a.c{s} + 1]" for s in range(_PQ_M)),
        start=f"([{qd_all}])[pc.cell + 1]",
    )
    return f"""
    WITH {_assign_ctes(cents, guard=True)},
    {pq_ctes},
    items_rn AS (
        SELECT *, {rn2} AS rn2 FROM coded
    ),
    {_qsims_cte(cents, f'vec_id < {n_queries}')},
    {_probe_cells_cte(n_centroids, nprobe, 'ASC')},
    qtab AS (
        SELECT vec_id AS q_id, {qnorm} AS qn,
               {q_cdots},
               {q_dott}
        FROM (SELECT vec_id, embedding AS qe FROM embeddings
              WHERE vec_id < {n_queries})
        WHERE {qnorm} > 0
    ),
    cand AS (
        SELECT q.q_id, a.vec_id,
               {adc} / (q.qn * sqrt(a.rn2)) AS adc_cos
        FROM qcells pc
        JOIN qtab q ON q.q_id = pc.q_id
        JOIN items_rn a ON a.cell = pc.cell
    )
    SELECT q_id, vec_id, adc_cos, CAST(rnk AS INT) AS rnk FROM (
        SELECT q_id, vec_id, adc_cos,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY adc_cos DESC, vec_id ASC) AS rnk
        FROM cand
    ) WHERE rnk <= {k}
    """


@register(
    "x123_ivfadc_knn",
    oracle=_x123_oracle(k=5, dim=64, n_centroids=8, nprobe=4, n_queries=5),
    doc="IVFADC batch search with residual encoding (Jégou et al. 2011 "
    "§IV; operators.similarity.ivfadc_knn_join): the paper's full "
    "system — coarse IVF cells prune each query's scan to nprobe cells, "
    "item codes quantize the RESIDUAL v - centroid(cell) (the paper's "
    "§IV quantizer: raw-vector PQ wastes code budget re-encoding each "
    "cell's offset), and candidates score by ADC: the query·centroid "
    "dot plus m element_at lookups into the query's inlined dot table "
    "instead of a 64-term dot, with item float vectors never read past "
    "encode time. Residual encoding keeps the index shape (id, cell, m "
    "codes, reconstruction norm) — the per-(cell,subspace,code) "
    "adjustment/norm tables are driver constants shared verbatim with "
    "the oracle (ivfadc_residual_tables). Queries explode to (q_id, "
    "cell) and meet items in the same cell equi-join as x82, so "
    "bucketed-by-cell storage keeps it exchange-free. Seeded codebooks "
    "make index, probe, tables, and ranking oracle-checked end to end; "
    "the numpy twin (auto above 16 cells / 32 codes) is pinned to this "
    "path and to an explicit-residual numpy reference in pytest.",
    tags=("LLM", "similarity", "knn", "ann"),
)
def x123_ivfadc_knn(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    cents = sim.make_centroids(dim=_PQ_DIM, n_centroids=8, seed=42)
    books = sim.make_pq_codebooks(_PQ_DIM, _PQ_M, _PQ_K, seed=42)
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    return sim.ivfadc_knn_join(
        e, queries, cents, books, k=5, nprobe=4, method="expr"
    )


# x124: the curation cascade with boilerplate="segment". Like x117, the
# oracle COMPOSES registered fragments instead of restating them: x79's
# WITH-chain gains (a) a planted corpus — every 4th document gets a
# fixed 8-word "nav menu" prefix so the frequency filter genuinely
# fires, the x113/x117/x119 planting discipline — and (b) x118's
# segment-filter chain between keep1 and the dedup stages, with
# n_tokens recomputed on the cleaned text.
_X124_PREFIX = "subscribe to our newsletter follow us on twitter "
_X124_SEGCHAIN = f"""segbase AS (
        SELECT doc_id,
               {_words('text', null_empty=True)} AS words
        FROM keep1
    ),
    segs AS (
        SELECT doc_id, CAST(t.g AS INTEGER) AS pos,
               array_to_string(
                   words[(t.g * {_X118_SEG_WORDS} + 1):
                         (t.g * {_X118_SEG_WORDS} + {_X118_SEG_WORDS})],
                   ' ') AS seg
        FROM segbase, unnest(range((len(words) - 1) // {_X118_SEG_WORDS} + 1))
             AS t(g)
    ),
    over_freq AS (
        SELECT seg FROM segs GROUP BY seg
        HAVING count(*) > {_X118_MAX_OCC}
    ),
    segkept AS (
        SELECT s.* FROM segs s
        WHERE s.seg NOT IN (SELECT seg FROM over_freq)
    ),
    reass AS (
        SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS clean_text
        FROM segkept GROUP BY doc_id
    ),
    keep1b AS (
        SELECT k.doc_id, k.source,
               coalesce(r.clean_text, '') AS text,
               len({_words('r.clean_text', null_empty=True)}) AS n_tokens
        FROM keep1 k LEFT JOIN reass r USING (doc_id)
    ),
    canon AS (SELECT min(doc_id) AS doc_id FROM keep1b GROUP BY md5(text)),
    keep2 AS (SELECT k.* FROM keep1b k JOIN canon USING (doc_id)),"""

_X124_ORACLE = (
    REGISTRY["x79_corpus_curation"].oracle.replace(
        "WITH corpus AS (SELECT * FROM documents WHERE source <> 'src0'),",
        "WITH corpus AS (\n"
        "        SELECT doc_id, source,\n"
        "               CASE WHEN doc_id % 4 = 0\n"
        f"                    THEN '{_X124_PREFIX}' || coalesce(text, '')\n"
        "                    ELSE text END AS text\n"
        "        FROM documents WHERE source <> 'src0'\n"
        "    ),",
        1,
    ).replace(
        "canon AS (SELECT min(doc_id) AS doc_id FROM keep1 GROUP BY md5(text)),\n"
        "    keep2 AS (SELECT k.* FROM keep1 k JOIN canon USING (doc_id)),",
        _X124_SEGCHAIN,
        1,
    )
)
assert "keep1b" in _X124_ORACLE  # the replace must have matched


@register(
    "x124_curate_boilerplate",
    oracle=_X124_ORACLE,
    doc="x79's curation cascade with boilerplate='segment': after the "
    "quality/language gates, segment_frequency_filter (x118) rewrites "
    "every document — ALL copies of corpus-over-frequent 8-word "
    "segments vanish (the planted nav-menu prefix on every 4th doc "
    "genuinely fires it) and n_tokens is recomputed on the cleaned "
    "text — BEFORE dedup, so boilerplate cannot glue distinct docs "
    "into near-dup pairs. Oracle composed from the registered x79 + "
    "x118 fragments so the entries cannot drift apart "
    "(operators.text.curate(boilerplate='segment')).",
    tags=("LLM", "pipeline", "dedup", "quality"),
)
def x124_curate_boilerplate(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("source") != "src0").select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit(_X124_PREFIX), F.coalesce(F.col("text"), F.lit(""))),
        ).otherwise(F.col("text")).alias("text"),
    )
    return tx.curate(
        corpus,
        d.filter(F.col("source") == "src0"),
        jaccard_threshold_e6=800_000,
        contamination_n=8,
        boilerplate="segment",
    )


def _x125_oracle(
    splits_e6: dict[str, int], eval_splits: tuple[str, ...],
    threshold_e6: int, seed: int,
) -> str:
    """DuckDB twin of split_leakage_guard: x84's md5 split ladder plus
    x45/x79's char-3-shingle Jaccard pair fragment, pairs filtered to
    train/eval straddles and the train member flagged."""
    evset = ", ".join(f"'{s}'" for s in eval_splits)
    return f"""
    WITH splits AS (
        SELECT doc_id, {_split_case(splits_e6, seed)} AS split FROM documents
    ),
    {_shingle_overlap_ctes('documents')},
    pairs AS (
        SELECT d1, d2
        FROM inter
        JOIN sizes s1 ON s1.doc_id = d1
        JOIN sizes s2 ON s2.doc_id = d2
        WHERE CAST(n_inter AS BIGINT) * 1000000
              // (s1.sz + s2.sz - n_inter) >= {threshold_e6}
    ),
    tagged AS (
        SELECT p.d1, p.d2,
               (a.split IN ({evset})) AS ev1,
               (b.split IN ({evset})) AS ev2
        FROM pairs p
        JOIN splits a ON a.doc_id = p.d1
        JOIN splits b ON b.doc_id = p.d2
    ),
    leaked AS (
        SELECT DISTINCT CASE WHEN ev1 THEN d2 ELSE d1 END AS doc_id
        FROM tagged WHERE ev1 <> ev2
    )
    SELECT s.doc_id, s.split,
           (s.doc_id IN (SELECT doc_id FROM leaked)) AS leaked
    FROM splits s
    """


_X125_SPLITS = {"train": 800_000, "val": 100_000, "test": 100_000}


@register(
    "x125_split_leakage_guard",
    oracle=_x125_oracle(
        _X125_SPLITS, ("val", "test"), threshold_e6=800_000, seed=7
    ),
    doc="Split-aware contamination guard "
    "(operators.text.split_leakage_guard): after deterministic "
    "train/val/test assignment (x84's md5 ladder, seed 7), near-dup "
    "pairs that STRADDLE train and an eval split flag their TRAIN "
    "member as leaked — the cross-split generalization of q63's "
    "benchmark decontamination; eval rows are never modified so "
    "metrics stay comparable. Pairs are x45's exact shingle-Jaccard "
    "(string shingles here for the oracle; production hashes them). "
    "Per-row split hash + bounded shingle join + two pair joins.",
    tags=("LLM", "dedup", "sampling", "pipeline"),
)
def x125_split_leakage_guard(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.split_leakage_guard(
        d, _X125_SPLITS, eval_splits=("val", "test"),
        threshold_e6=800_000, seed=7, hash_shingles=False,
    )


@register(
    "x126_temperature_mix",
    # The oracle RECOMPUTES the per-domain rates in SQL with the exact
    # operation sequence the driver uses (double division -> sqrt ->
    # *1e6 -> floor): every primitive is correctly-rounded IEEE, so the
    # two engines' rate integers — and therefore the md5 threshold
    # strings — are bit-identical. printf('%08x') mirrors
    # rate_to_threshold_hex; rate 1e6 maps to 'g' (keep-all sentinel
    # that sorts after every hex digit).
    # the synthetic generator deals sources round-robin (exactly 25 per
    # source at sf0.01), which would make every rate 1e6 — so, like
    # x113/x117/x119's planting, the corpus is deterministically skewed
    # first: sources >= 'src5' drop their odd doc_ids, halving them.
    oracle="""
    WITH corpus AS (
        SELECT * FROM documents
        WHERE source < 'src5' OR doc_id % 2 = 0
    ),
    counts AS (
        SELECT source, count(*) AS n FROM corpus GROUP BY source
    ),
    rates AS (
        SELECT source,
               LEAST(1000000, CAST(floor(
                   sqrt(CAST((SELECT min(n) FROM counts) AS DOUBLE)
                        / CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT)
               ) AS rate_e6
        FROM counts
    ),
    thresholds AS (
        SELECT source,
               CASE WHEN rate_e6 >= 1000000 THEN 'g'
                    ELSE printf('%08x', rate_e6 * 4294967296 // 1000000)
               END AS thr
        FROM rates
    )
    SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
    FROM corpus d
    JOIN thresholds t USING (source)
    WHERE substr(md5('42:' || CAST(d.doc_id AS VARCHAR)), 1, 8) < t.thr
    """,
    doc="Temperature-scaled domain mixing (Pile/T5 p_d ∝ n_d^alpha at "
    "the sqrt temperature; operators.sampling.temperature_mix): every "
    "domain downsamples at rate (min_n/n_d)^(1-alpha) so the smallest "
    "keeps everything and surviving proportions follow n_d^0.5 — the "
    "standard upweighting of rare domains before training. Counts are "
    "the bounded |domains| driver collect; selection is the pure-hash "
    "stratified filter. Rates recomputed in SQL land bit-identical "
    "(division/sqrt/floor are all correctly-rounded primitives).",
    tags=("LLM", "sampling", "pipeline"),
)
def x126_temperature_mix(spark, sf_dir):
    from ..operators.sampling import temperature_mix

    d = load(spark, sf_dir, "documents").filter(
        (F.col("source") < "src5") | (F.col("doc_id") % 2 == 0)
    )
    return temperature_mix(d, alpha_e6=500_000, seed=42)


@register(
    "x127_ngram_novelty",
    # q63's gram fragments, scored: distinct 3-gram sets per doc, left
    # anti the reference (source='src0') distinct set, e6 integer ratio.
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               {_words('text', lower=True)} AS t,
               len({_words('text', lower=True)}) AS n
        FROM documents WHERE source <> 'src0'
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, n - 1),
                   i -> array_to_string(t[i:i+2], ' ')))) AS gram
        FROM toks WHERE n >= 3
    ),
    ref AS (
        SELECT DISTINCT unnest(list_distinct(list_transform(range(1, n - 1),
                   i -> array_to_string(t[i:i+2], ' ')))) AS gram
        FROM (SELECT {_words('text', lower=True)} AS t,
                     len({_words('text', lower=True)}) AS n
              FROM documents WHERE source = 'src0')
        WHERE n >= 3
    ),
    novel AS (
        SELECT doc_id, count(*) AS n_novel FROM grams
        WHERE gram NOT IN (SELECT gram FROM ref)
        GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(t.n_grams, 0) AS n_grams,
           CASE WHEN coalesce(t.n_grams, 0) > 0
                THEN coalesce(v.n_novel, 0) END AS n_novel,
           CASE WHEN coalesce(t.n_grams, 0) > 0
                THEN coalesce(v.n_novel, 0) * 1000000 // t.n_grams
           END AS novelty_e6
    FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
    LEFT JOIN totals t USING (doc_id)
    LEFT JOIN novel v USING (doc_id)
    """,
    doc="N-gram novelty scoring (operators.text.ngram_novelty): fraction "
    "of each corpus doc's distinct 3-grams absent from the src0 "
    "reference slice — the data-valuation signal novelty-based "
    "selection ranks on; the scoring complement of q63's binary "
    "decontamination flag. Distinct-gram reduction both sides, one "
    "anti join, two doc-id counts; grams hash at scale and the "
    "reference set persists as a distinct-gram store.",
    tags=("LLM", "quality", "pipeline"),
)
def x127_ngram_novelty(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.ngram_novelty(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
        n=3,
    )


@register(
    "x128_cdc_dedup",
    # Same word-split as x81/x118; boundaries are md5-of-context string
    # compares (identical in both engines), chunk ids a per-doc running
    # sum, then the keep-first rank + ordered reassembly fragments.
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               {_words('text', null_empty=True)} AS t
        FROM documents
    ),
    posw AS (
        SELECT doc_id, CAST(i.g AS INTEGER) AS pos, t[i.g] AS word,
               CASE WHEN i.g >= 3 AND substr(md5(
                        t[i.g - 2] || ' ' || t[i.g - 1] || ' ' || t[i.g]),
                        1, 1) IN ('0', '1')
                    THEN 1 ELSE 0 END AS b
        FROM base, unnest(range(1, len(t) + 1)) AS i(g)
    ),
    chunked AS (
        SELECT doc_id, pos, word,
               coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS chunk_idx
        FROM posw
    ),
    chunks AS (
        SELECT doc_id, chunk_idx,
               string_agg(word, ' ' ORDER BY pos) AS chunk
        FROM chunked GROUP BY doc_id, chunk_idx
    ),
    kept AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY chunk
                          ORDER BY doc_id, chunk_idx) AS rn
            FROM chunks
        ) WHERE rn = 1
    ),
    reassembled AS (
        SELECT doc_id,
               string_agg(chunk, ' ' ORDER BY chunk_idx) AS clean_text,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id
    ),
    totals AS (
        SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(r.clean_text, '') AS clean_text,
           t.n_chunks,
           t.n_chunks - coalesce(r.n_kept, 0) AS n_removed
    FROM totals t LEFT JOIN reassembled r USING (doc_id)
    """,
    doc="Content-defined-chunking dedup (operators.text.cdc_dedup): "
    "Rabin/FastCDC-style boundaries fall where the md5 of the trailing "
    "3-word context opens with '0'/'1' (expected 8-word chunks), and "
    "only each chunk's globally first occurrence survives. Unlike "
    "x81's fixed tiles, boundaries are functions of LOCAL content, so "
    "an early insertion re-aligns within one chunk and the shared tail "
    "still dedups — the insert-robust member of the span-dedup family. "
    "Scan-side boundary hash, per-DOC running sum (never a global "
    "window), then the keep-first rank + ordered reassembly.",
    tags=("LLM", "dedup"),
)
def x128_cdc_dedup(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.cdc_dedup(d, window=3)


_X129_B = 512

# One GD step of the x110 quality classifier, at the trainer's ZERO
# init: the margin is the exact-integer sum of zero weights = 0, so
# sigmoid is exp(0) — exact in every libm — and the residual is the
# exact integer 500000 - y*1000000. The oracle is x91's feature chain
# (same split/bigrams/h60 buckets) made per-doc-DISTINCT plus the bias
# bucket -1, then the residual-weighted bucket sum. This pins the
# estimator's feature hashing, bias handling, and residual quantization
# in SQL (the x93 one-iteration-BPE pattern); the LOOP stays rows-only
# in x110 (pytest-pinned bit-determinism).
_X129_ORACLE = f"""
    WITH tok AS (
        SELECT doc_id, source,
               {_words('text', null_empty=True)} AS t
        FROM documents
    ),
    feats AS (
        SELECT doc_id, source, unnest(t) AS g FROM tok
        UNION ALL
        SELECT doc_id, source,
               unnest([array_to_string(t[i:i+1], ' ') for i in range(1, len(t))])
                   AS g
        FROM tok WHERE len(t) >= 2
    ),
    db AS (
        SELECT DISTINCT CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS y,
               doc_id,
               {o_h60('g')}
                   % {_X129_B} AS b
        FROM feats
        UNION ALL
        SELECT CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS y,
               doc_id, CAST(-1 AS BIGINT) AS b
        FROM documents
    ),
    resid AS (
        -- zero-init margin: z = 0 exactly (integer sum of zero weights),
        -- so the sigmoid arm is exp(-0.0) = 1.0 bit-exactly in any libm
        SELECT y, doc_id,
               CAST(floor(1.0 / (1.0 + exp(-greatest(-30.0,
                        least(30.0, CAST(0 AS DOUBLE) / 1000000.0))))
                    * 1000000.0 - y * 1000000.0) AS BIGINT) AS r_e6
        FROM (SELECT DISTINCT y, doc_id FROM db)
    )
    SELECT CAST(db.b AS BIGINT) AS b,
           CAST(sum(resid.r_e6) AS BIGINT) AS g_e6
    FROM db JOIN resid USING (y, doc_id)
    GROUP BY db.b
"""


@register(
    "x129_classifier_grad_step",
    oracle=_X129_ORACLE,
    doc="One oracle-checked gradient step of the GPT-3-style quality "
    "classifier (operators.text.quality_classifier_grad; Brown et al. "
    "2020 appendix A): hashed unigram+bigram presence features (x91's "
    "h60 bucket space, per-doc distinct) plus the bias bucket -1, "
    "margin as an exact-integer weight sum, residual floor-e6-quantized "
    "before the per-bucket sum. At the trainer's zero init the sigmoid "
    "is exp(0) — exact in every libm — so the whole step is "
    "cross-engine bit-identical; full training (x110) remains "
    "rows-only, its loop pinned in pytest by applying this step's "
    "update rule. Scale: one explode + one map-side-combined bucket "
    "groupBy bounded at n_buckets + 1 rows — the iteration cost model "
    "of the trainer itself.",
    tags=("LLM", "quality", "iterative"),
)
def x129_classifier_grad_step(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return tx.quality_classifier_grad(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
        n_buckets=_X129_B,
    )


# x130: hybrid retrieval — x96's BM25 chain (lexical list) + x46's dense
# cosine top-k (vec_id 0 as the query, like x46), fused by integer RRF:
# contribution 1000000 // (60 + rank) per list, summed, re-ranked. Both
# stage-1 rankings are cross-engine exact already (integer BM25 scores,
# bit-identical cosine doubles), so the fused integers are too.
_X130_TOPN = 50

_X130_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id,
               {_words('text', lower=True, null_empty=True)} AS t
        FROM documents
    ),
    dl AS (SELECT doc_id, len(t) AS dl FROM toks),
    stats AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS tt FROM dl),
    hits AS (
        SELECT doc_id, unnest(list_filter(t,
               x -> x IN ('spark', 'hash', 'merge', 'window'))) AS term
        FROM toks
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM hits GROUP BY 1, 2),
    docfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    idf AS (
        SELECT term, df,
               CAST(floor(ln(1.0 + (stats.n - df + 0.5) / (df + 0.5))
                          * 1000000.0) AS BIGINT) AS idf_e6
        FROM docfreq CROSS JOIN stats
    ),
    bmscored AS (
        SELECT tf.doc_id,
               CAST(floor((44.0 * stats.tt * tf.tf)
                          / (20.0 * stats.tt * tf.tf + 6.0 * stats.tt
                             + 18.0 * dl.dl * stats.n)
                          * idf.idf_e6) AS BIGINT) AS s_e6
        FROM tf JOIN idf ON idf.term = tf.term
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats
    ),
    bm AS (
        SELECT doc_id, CAST(sum(s_e6) AS BIGINT) AS score_e6
        FROM bmscored GROUP BY doc_id
    ),
    bm_ranked AS (
        SELECT doc_id, rnk FROM (
            SELECT doc_id, row_number() OVER (ORDER BY score_e6 DESC,
                                              doc_id ASC) AS rnk
            FROM bm
        ) WHERE rnk <= 50
    ),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    ann AS (
        SELECT e.vec_id AS doc_id, {_cos('e.embedding', 'q.qe')} AS cosine
        FROM embeddings e, q
    ),
    ann_ranked AS (
        SELECT doc_id, rnk FROM (
            SELECT doc_id, row_number() OVER (ORDER BY cosine DESC,
                                              doc_id ASC) AS rnk
            FROM ann
        ) WHERE rnk <= 50
    ),
    contribs AS (
        SELECT doc_id, CAST(1000000 // (60 + rnk) AS BIGINT) AS c
        FROM bm_ranked
        UNION ALL
        SELECT doc_id, CAST(1000000 // (60 + rnk) AS BIGINT) AS c
        FROM ann_ranked
    ),
    fused AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_e6,
               CAST(count(*) AS BIGINT) AS n_lists
        FROM contribs GROUP BY doc_id
    )
    SELECT doc_id, rrf_e6, n_lists,
           CAST(row_number() OVER (ORDER BY rrf_e6 DESC, doc_id ASC) AS INT)
               AS fused_rank
    FROM fused
"""


@register(
    "x130_rrf_hybrid_retrieval",
    oracle=_X130_ORACLE,
    doc="Hybrid retrieval via reciprocal-rank fusion (Cormack et al. "
    "2009; operators.text.rrf_fuse): x96's BM25 lexical top-50 and "
    "x46's dense cosine top-50 fuse by rank alone — contribution "
    "1000000 div (60 + rank) per list, integer-summed, re-ranked with "
    "id ties — so no score calibration is ever needed across "
    "heterogeneous retrievers (the reason RRF is the default hybrid "
    "combiner). Both stage-1 lists are already cross-engine exact "
    "(integer BM25, bit-identical cosine folds); the fusion is pure "
    "integer arithmetic. Scale: the retrievers do the data-sized work; "
    "fusion is a union + groupBy + window over <= 100 rows (bounded by "
    "construction — the lint allowance names the bound).",
    tags=("LLM", "retrieval", "similarity"),
)
def x130_rrf_hybrid_retrieval(spark, sf_dir):
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    bm = tx.bm25_scores(d, ["spark", "hash", "merge", "window"])
    # rank AFTER the TakeOrdered limit: the window sees only topn rows
    wb = Window.orderBy(F.desc("score_e6"), F.asc("doc_id"))
    bm_ranked = (
        bm.orderBy(F.desc("score_e6"), F.asc("doc_id"))
        .limit(_X130_TOPN)
        .withColumn("rnk", F.row_number().over(wb))
        .select("doc_id", "rnk")
    )
    query = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    ann = sim.ann_topk_bruteforce(e, query, k=_X130_TOPN, dim=64)
    wa = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    ann_ranked = ann.withColumn("rnk", F.row_number().over(wa)).select(
        F.col("vec_id").alias("doc_id"), "rnk"
    )
    return tx.rrf_fuse([bm_ranked, ann_ranked], k0=60)


# x131: Matryoshka two-stage ANN. The query is vec_id 0's own embedding
# (the x46 convention), collected driver-side (1 bounded row) so the
# operator's literal folds see the exact stored doubles the oracle's
# column references see. The 16-dim prefix folds are short: ``_fold``
# chains.
def _x131_oracle(prefix_dim: int, shortlist: int, k: int) -> str:
    def prefix(v: str) -> list[str]:
        return [f"CAST({v}[{i}] AS DOUBLE)" for i in range(1, prefix_dim + 1)]

    pdot = _chain_dot("e.embedding", prefix("q.qe"))
    pn2 = _chain_dot("e.embedding", prefix("e.embedding"))
    qpn2 = _chain_dot("q.qe", prefix("q.qe"))
    return f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    pre AS (
        SELECT e.vec_id, e.embedding,
               {pdot} AS pdot, sqrt({pn2}) AS pn, sqrt({qpn2}) AS qpn
        FROM embeddings e, q
        WHERE e.embedding IS NOT NULL
    ),
    short AS (
        SELECT vec_id, embedding, pdot / (pn * qpn) AS prefix_cos
        FROM pre WHERE pn > 0
        ORDER BY pdot / (pn * qpn) DESC, vec_id ASC
        LIMIT {shortlist}
    )
    SELECT vec_id, {_cos('s.embedding', 'q.qe')} AS cosine, prefix_cos
    FROM short s, q
    ORDER BY cosine DESC, vec_id ASC
    LIMIT {k}
    """


@register(
    "x131_matryoshka_topk",
    oracle=_x131_oracle(prefix_dim=16, shortlist=100, k=10),
    doc="Matryoshka two-stage ANN (Kusupati et al. 2022; "
    "operators.similarity.ann_topk_matryoshka): stage 1 shortlists by "
    "cosine on the FIRST 16 dims (MRL embeddings order information by "
    "prefix — the cheap high-recall filter), stage 2 re-ranks the "
    "shortlist by exact full-dim cosine. Scan-side prefix arithmetic is "
    "a quarter of the flops (and of the BYTES when the prefix persists "
    "as its own column), the shortlist bounds stage-2 cost, and both "
    "stages are TakeOrdered top-k — no shuffle, no window. "
    "Zero-prefix-norm rows are guarded out (NaN would sort first under "
    "DESC).",
    tags=("LLM", "similarity", "ann"),
)
def x131_matryoshka_topk(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    # bounded driver collect: ONE query row (the x46 query convention);
    # on an EMPTY table fall back to a unit query — the funnel is then
    # vacuously empty either way (the empty-inputs contract)
    row = e.filter(F.col("vec_id") == 0).select("embedding").first()
    q = [float(x) for x in row["embedding"]] if row else [1.0] * 64
    return sim.ann_topk_matryoshka(e, q, k=10, prefix_dim=16, shortlist=100)


