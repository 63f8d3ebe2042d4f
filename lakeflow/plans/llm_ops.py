"""LLM-training-data pipeline queries (SURVEY §2.12): text analysis,
exact + fuzzy dedup (MinHash-LSH, SimHash, n-gram Jaccard), embedding
similarity search, multimodal metadata — each over the driver's
documents/embeddings tables with a DuckDB oracle (except the ANN path,
which is approximate-by-design and gets the rows-only check).

DuckDB dialect notes baked into the oracles: regexp_replace needs the
'g' flag (Spark replaces all matches by default); bare decimal literals
are DECIMAL not DOUBLE (use e0); SUM(BIGINT) is HUGEINT (cast back).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lakeflow.catalog import load_table, read_parquet
from lakeflow.functions.hashing import SQL_SEEDED_HASH
from lakeflow.operators.dedup import exact_dedup
from lakeflow.operators.multimodal import extract_metadata, with_binary_payload
from lakeflow.operators.similarity import (
    brute_force_topk,
    lsh_ann_topk,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
)
from lakeflow.operators.text import (
    LANG_MARKERS,
    STOPWORDS,
    lang_pred,
    lang_scores,
    normalized_fingerprint,
    quality_score,
    simhash16,
    token_count,
    word_hits,
)
from lakeflow.plans.registry import query

_SQL_TOKS = "regexp_split_to_array(trim(text), '\\s+')"


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _sql_hits(words: list[str]) -> str:
    return (
        f"CAST(len(list_filter({_SQL_TOKS}, x -> "
        f"list_contains({_sql_list(words)}, x))) AS BIGINT)"
    )


@query(
    "q_text_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars_txt,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
             CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS nonspace_len,
             CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS n_bad,
             {_sql_hits(STOPWORDS)} AS stop_hits,
             CAST(greatest(length(text), 1) AS BIGINT) AS safe_len
      FROM documents)
    SELECT doc_id, n_chars_txt, n_tokens,
           CAST(FLOOR(nonspace_len / CAST(n_tokens AS DOUBLE) * 1000000e0 + 0.5e0) AS BIGINT) AS avg_token_len_micros,
           stop_hits,
           CAST(FLOOR((
             0.4e0 * least(CAST(n_tokens AS DOUBLE) / 100e0, 1e0)
             + 0.3e0 * (1e0 - (n_bad / CAST(safe_len AS DOUBLE)))
             + 0.3e0 * least((CAST(stop_hits AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE)) * 5e0, 1e0)
           ) * 1000000e0 + 0.5e0) AS BIGINT) AS quality_micros
    FROM t
    """,
    description="Per-document text statistics + heuristic quality score "
    "(token counting, cleanliness, stopword density) — all JVM built-ins.",
    refs=("§2.12", "F1", "F8"),
)
def q_text_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    nt = token_count("text")
    nonspace = F.length(F.regexp_replace(F.col("text"), r"\s", ""))
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_txt"),
        nt.cast("long").alias("n_tokens"),
        F.floor(
            nonspace / nt.cast("double") * F.lit(1000000.0) + F.lit(0.5)
        )
        .cast("long")
        .alias("avg_token_len_micros"),
        word_hits("text", STOPWORDS).cast("long").alias("stop_hits"),
        F.floor(quality_score("text") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("quality_micros"),
    )


_LANGS = list(LANG_MARKERS)


@query(
    "q_lang_id",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             {', '.join(f'{_sql_hits(w)} AS {l}_hits' for l, w in LANG_MARKERS.items())}
      FROM documents)
    SELECT doc_id, lang, {', '.join(f'{l}_hits' for l in _LANGS)},
           CASE
             WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits AND en_hits >= zh_hits THEN 'en'
             WHEN de_hits >= es_hits AND de_hits >= fr_hits AND de_hits >= zh_hits THEN 'de'
             WHEN es_hits >= fr_hits AND es_hits >= zh_hits THEN 'es'
             WHEN fr_hits >= zh_hits THEN 'fr'
             ELSE 'zh'
           END AS pred_lang
    FROM t
    """,
    description="Heuristic marker-word language ID with deterministic "
    "tie-break priority (en>de>es>fr>zh).",
    refs=("§2.12",),
)
def q_lang_id(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    scores = lang_scores("text")
    return d.select(
        "doc_id",
        "lang",
        *[scores[l].cast("long").alias(f"{l}_hits") for l in _LANGS],
        lang_pred(scores).alias("pred_lang"),
    )


@query(
    "q_exact_dedup_docs",
    oracle="""
    SELECT md5(text) AS fingerprint,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    description="Exact content dedup: md5 fingerprint group-by, min-id "
    "representative — hash is the shuffle key, never the body.",
    refs=("§2.12", "D1"),
)
def q_exact_dedup_docs(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return exact_dedup(d, ["text"], "doc_id")


@query(
    "q_doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                   '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
    description="Normalized content fingerprint (lowercase, strip "
    "non-alphanumerics, collapse whitespace, md5).",
    refs=("§2.12", "F1"),
)
def q_doc_fingerprint(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", normalized_fingerprint("text").alias("fingerprint"))


def _simhash_oracle() -> str:
    h = SQL_SEEDED_HASH.format(seed="sim", x="tok")
    votes = ", ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(16)
    )
    bits = " + ".join(
        f"(CASE WHEN b{j} >= 0 THEN {1 << j} ELSE 0 END)" for j in range(16)
    )
    return f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents)),
    h AS (SELECT doc_id, {h} AS h FROM tok),
    v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
    SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM v
    """


@query(
    "q_simhash",
    oracle=_simhash_oracle(),
    description="16-bit SimHash signature per document: one explode + "
    "one hash-agg of per-bit votes.",
    refs=("§2.12",),
)
def q_simhash(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return simhash16(d, "doc_id", "text")


def _shingle_cte(source: str = "documents") -> str:
    return f"""
    toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM {source}),
    ex AS (
      SELECT doc_id, unnest(
        [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
         for i in generate_series(1, greatest(len(t) - 2, 0))]) AS s
      FROM toks)
    """


def _minhash_oracle() -> str:
    from lakeflow.functions.hashing import sql_hash_slices

    slices = sql_hash_slices("s", seeds=("a", "b"))
    hcols = ", ".join(f"MIN({h}) AS mh{i}" for i, h in enumerate(slices))
    band_rows = "\n      UNION ALL\n".join(
        "      SELECT doc_id, {b} AS band_id, {h} AS band_hash FROM mh".format(
            b=b,
            h=SQL_SEEDED_HASH.format(
                seed=f"band{b}",
                x=f"mh{2 * b}::VARCHAR || '|' || mh{2 * b + 1}::VARCHAR",
            ),
        )
        for b in range(4)
    )
    return f"""
    WITH {_shingle_cte()},
    mh AS (SELECT doc_id, {hcols} FROM ex GROUP BY doc_id),
    bands AS (
{band_rows}
    )
    SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
    """


@query(
    "q_minhash_lsh_pairs",
    oracle=_minhash_oracle(),
    description="MinHash-LSH near-dup candidate pairs: 8 seeded "
    "min-hashes over word 3-gram shingles, 4 bands of 2, banded "
    "equi-self-join (shuffle keys are hashes, never bodies).",
    refs=("§2.12",),
)
def q_minhash_lsh_pairs(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(d, "doc_id", "text", k=8)
    return lsh_candidate_pairs(sig, "doc_id", k=8, band_size=2)


@query(
    "q_ngram_jaccard",
    oracle=f"""
    WITH d0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
    {_shingle_cte('d0')},
    dsh AS (SELECT DISTINCT doc_id, s FROM ex),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM dsh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS inter
      FROM dsh a JOIN dsh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT * FROM (
      SELECT ia AS doc_id_a, ib AS doc_id_b,
             CAST(FLOOR(CAST(inter AS DOUBLE) / CAST(za.sz + zb.sz - inter AS DOUBLE)
                        * 1000000e0 + 0.5e0) AS BIGINT) AS jaccard_micros
      FROM inter JOIN sz za ON za.doc_id = ia JOIN sz zb ON zb.doc_id = ib) t
    WHERE jaccard_micros >= 20000
    """,
    description="Exact n-gram Jaccard similarity on a doc sample: "
    "distinct-shingle self-join pair generation + intersection/union "
    "counting.",
    refs=("§2.12",),
)
def q_ngram_jaccard(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return ngram_jaccard_pairs(d, "doc_id", "text", min_jaccard_micros=20000)


_SQL_VEC = "[CAST(FLOOR(x * 1000000e0 + 0.5e0) AS BIGINT) for x in embedding::DOUBLE[]]"


@query(
    "q_cosine_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings),
    n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),
    q AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2 FROM n WHERE vec_id < 10),
    s AS (
      SELECT q.q_id, n.vec_id,
             CAST(FLOOR(list_dot_product(n.v, q.qv) / (sqrt(n.n2) * sqrt(q.qn2))
                        * 1000000e0 + 0.5e0) AS BIGINT) AS cos_micros
      FROM n JOIN q ON n.vec_id <> q.q_id)
    SELECT q_id, vec_id, cos_micros, rnk FROM (
      SELECT *, row_number() OVER (
        PARTITION BY q_id ORDER BY cos_micros DESC, vec_id) AS rnk
      FROM s) t
    WHERE rnk <= 5
    """,
    description="Brute-force cosine top-5 for 10 query vectors: corpus "
    "scan x broadcast(queries), exact integer dot products, window top-k.",
    refs=("§2.12",),
)
def q_cosine_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, F.col("vec_id") < 10, k=5)


@query(
    "q_hard_negatives",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings),
    n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),
    q AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2 FROM n WHERE vec_id < 10),
    s AS (
      SELECT q.q_id, n.vec_id,
             CAST(FLOOR(list_dot_product(n.v, q.qv) / (sqrt(n.n2) * sqrt(q.qn2))
                        * 1000000e0 + 0.5e0) AS BIGINT) AS cos_micros
      FROM n JOIN q ON n.vec_id <> q.q_id)
    SELECT q_id, vec_id, cos_micros, rnk FROM (
      SELECT *, row_number() OVER (
        PARTITION BY q_id ORDER BY cos_micros DESC, vec_id) AS rnk
      FROM s WHERE cos_micros < 950000 AND cos_micros >= 200000) t
    WHERE rnk <= 5
    """,
    description="Hard-negative mining for contrastive/retrieval "
    "training (operators/similarity.hard_negatives): per query vector "
    "the 5 MOST similar corpus vectors inside the cos band "
    "[0.2, 0.95) — random negatives are too easy, near-duplicates are "
    "false negatives; the band between is the ANCE/DPR curation step. "
    "Band filter runs in codegen BEFORE the bounded two-phase top-k; "
    "at scale the scan side swaps for an ANN shortlist with identical "
    "band semantics.",
    refs=("§2.12",),
)
def q_hard_negatives(spark, sf_dir):
    from lakeflow.operators.similarity import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negatives(
        emb,
        F.col("vec_id") < 10,
        k=5,
        dup_threshold_micros=950_000,
        min_cos_micros=200_000,
    )


@query(
    "q_embedding_stats",
    oracle=f"""
    WITH e AS (SELECT label, {_SQL_VEC} AS v FROM embeddings),
    n AS (SELECT label,
                 CAST(FLOOR(sqrt(list_dot_product(v, v)) + 0.5e0) AS BIGINT) AS norm_micros
          FROM e)
    SELECT label, COUNT(*) AS n_vectors,
           CAST(SUM(norm_micros) AS BIGINT) AS sum_norm_micros,
           CAST(SUM(norm_micros) AS BIGINT) / (1000000e0 * COUNT(*)) AS avg_norm,
           MIN(norm_micros) AS min_norm_micros,
           MAX(norm_micros) AS max_norm_micros
    FROM n GROUP BY label
    """,
    description="Per-label embedding norm statistics via exact integer "
    "norms (cross-row aggregation stays in longs).",
    refs=("§2.12", "A5"),
)
def q_embedding_stats(spark, sf_dir):
    from lakeflow.operators.similarity import dot_long, to_micro_ints

    emb = load_table(spark, sf_dir, "embeddings")
    v = to_micro_ints("embedding")
    n2 = dot_long(v, v)
    norm = F.floor(F.sqrt(n2.cast("double")) + F.lit(0.5)).cast("long")
    return (
        emb.select("label", norm.alias("norm_micros"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("norm_micros").alias("sum_norm_micros"),
            F.min("norm_micros").alias("min_norm_micros"),
            F.max("norm_micros").alias("max_norm_micros"),
        )
        .withColumn(
            "avg_norm",
            F.col("sum_norm_micros") / (F.lit(1000000.0) * F.col("n_vectors")),
        )
        .select(
            "label",
            "n_vectors",
            "sum_norm_micros",
            "avg_norm",
            "min_norm_micros",
            "max_norm_micros",
        )
    )


@query(
    "q_lsh_ann",
    # ANN neighbors are approximate-by-design, so the oracle checks the
    # RECALL CONTRACT: the Spark side computes recall@5 of the LSH path
    # against the exact brute-force truth (both Spark-side, both
    # deterministic) and emits a pass boolean; the oracle asserts TRUE.
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_pass
    FROM embeddings WHERE vec_id < 10
    """,
    description="Multi-table LSH approximate NN (8 tables x 4 hyperplane "
    "signs): candidates share a bucket in any table, exact cosine ranks "
    "the union — the 100 TB scale path where brute force is infeasible. "
    "Checked via a recall@5 >= 0.6 contract against brute-force truth.",
    refs=("§2.12",),
)
def q_lsh_ann(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") < 10
    ann = lsh_ann_topk(emb, pred, k=5, n_planes=4, n_tables=8, dim=64)
    exact = brute_force_topk(emb, pred, k=5)
    hits = ann.join(
        exact.select("q_id", "vec_id"), ["q_id", "vec_id"], "left_semi"
    )
    per_q = (
        exact.select("q_id")
        .distinct()
        .join(hits.groupBy("q_id").agg(F.count(F.lit(1)).alias("hits")), "q_id", "left")
        .select("q_id", F.coalesce("hits", F.lit(0)).alias("hits"))
    )
    # mean recall@5 >= 0.6  <=>  sum(hits) >= 3 * n_queries (integer-exact)
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (F.sum("hits") >= F.count(F.lit(1)) * F.lit(3)).alias("recall_pass"),
    )


@query(
    "q_ivf_ann",
    # same contract pattern as q_lsh_ann: the Spark side computes
    # recall@5 of the IVF probe path against brute-force truth and
    # emits a pass boolean; the oracle asserts TRUE.
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_pass
    FROM embeddings WHERE vec_id < 10
    """,
    description="IVF approximate NN (16 deterministic Voronoi cells, "
    "probe 8): cell assignment is a narrow map over the scan, the probe "
    "join is equi on cell id vs broadcast queries — the inverted-file "
    "scale path; recall@5 >= 0.6 contract vs brute force (measured "
    "~0.72-0.80 at sf0.001-0.1).",
    refs=("§2.12",),
)
def q_ivf_ann(spark, sf_dir):
    from lakeflow.operators.similarity import ivf_ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") < 10
    ann = ivf_ann_topk(
        emb, pred, k=5, n_cells=16, n_probe=8,
        centroids=_ivf_centroids(spark, sf_dir, n_cells=16),
        assignments=_ivf_assignments(spark, sf_dir, n_cells=16),
    )
    exact = brute_force_topk(emb, pred, k=5)
    hits = ann.join(
        exact.select("q_id", "vec_id"), ["q_id", "vec_id"], "left_semi"
    )
    per_q = (
        exact.select("q_id")
        .distinct()
        .join(hits.groupBy("q_id").agg(F.count(F.lit(1)).alias("hits")), "q_id", "left")
        .select("q_id", F.coalesce("hits", F.lit(0)).alias("hits"))
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (F.sum("hits") >= F.count(F.lit(1)) * F.lit(3)).alias("recall_pass"),
    )


@query(
    "q_multimodal_meta",
    oracle="""
    SELECT doc_id AS id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5,
           'application/octet-stream' AS media_type
    FROM documents
    """,
    description="Multimodal binary-column plumbing: payload bytes + "
    "Arrow-batched mapInPandas metadata extraction (md5, byte size).",
    refs=("§2.12", "§2.11"),
)
def q_multimodal_meta(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return extract_metadata(with_binary_payload(d, "text", "doc_id"))


@query(
    "q_token_classes",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_word_tokens,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num_tokens,
           CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]+')) AS BIGINT) AS n_punct_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+'))
              + len(regexp_extract_all(text, '[0-9]+'))
              + len(regexp_extract_all(text, '[^A-Za-z0-9\\s]+')) AS BIGINT) AS n_bpe_tokens
    FROM documents
    """,
    description="BPE-style pre-tokenization counts (GPT-2 class split "
    "minus lookaheads): letter/digit/punctuation runs per document — "
    "the scan-time proxy for subword token cost, pure codegen regex.",
    refs=("§2.12", "F1"),
)
def q_token_classes(spark, sf_dir):
    from lakeflow.operators.text import bpe_ish_token_counts

    d = load_table(spark, sf_dir, "documents")
    counts = bpe_ish_token_counts("text")
    total = counts["word"] + counts["num"] + counts["punct"]
    return d.select(
        "doc_id",
        counts["word"].cast("long").alias("n_word_tokens"),
        counts["num"].cast("long").alias("n_num_tokens"),
        counts["punct"].cast("long").alias("n_punct_tokens"),
        total.cast("long").alias("n_bpe_tokens"),
    )


def _winnow_oracle(k: int = 3, w: int = 4) -> str:
    h = SQL_SEEDED_HASH.format(seed="wn", x="x")
    return f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    sh AS (
      SELECT doc_id,
             [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
              for i in generate_series(1, greatest(len(t) - {k - 1}, 0))] AS s
      FROM toks),
    hs AS (SELECT doc_id, [{h} for x in s] AS h FROM sh WHERE len(s) > 0),
    wm AS (
      SELECT doc_id,
             [list_min(h[i:i+{w - 1}]) for i in generate_series(1,
                CASE WHEN len(h) >= {w} THEN len(h) - {w - 1} ELSE 1 END)] AS m
      FROM hs),
    fp AS (SELECT doc_id, list_sort(list_distinct(m)) AS fps FROM wm)
    SELECT doc_id,
           CAST(len(fps) AS BIGINT) AS n_fingerprints,
           md5(array_to_string(fps, ',')) AS fp_digest
    FROM fp
    """


@query(
    "q_winnow_fingerprint",
    oracle=_winnow_oracle(),
    description="Winnowing rolling-hash fingerprints (Schleimer et al. "
    "SIGMOD'03): min-hash of each sliding window over token 3-gram "
    "hashes, distinct selected hashes per doc — position-robust "
    "plagiarism/overlap fingerprints at ~1/w the shingle count.",
    refs=("§2.12",),
)
def q_winnow_fingerprint(spark, sf_dir):
    from lakeflow.operators.text import winnow_fingerprints

    d = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(d, "doc_id", "text", k=3, w=4)


def _embedding_near_dup_oracle(
    min_cos_micros: int, n_planes: int = 4, n_tables: int = 8, dim: int = 64
) -> str:
    from lakeflow.operators.similarity import plane_signs

    table_rows = []
    for t in range(n_tables):
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(v, {plane_signs(t, j, dim)}) >= 0"
            f" THEN {1 << j} ELSE 0 END)"
            for j in range(n_planes)
        )
        table_rows.append(
            f"      SELECT vec_id, v, n2, {t} AS t, {bits} AS b FROM n"
        )
    union = "\n      UNION ALL\n".join(table_rows)
    return f"""
    WITH e AS (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings),
    n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),
    tb AS (
{union}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
      FROM tb a JOIN tb b ON a.t = b.t AND a.b = b.b AND a.vec_id < b.vec_id),
    s AS (
      SELECT ia AS vec_id_a, ib AS vec_id_b,
             CAST(FLOOR(list_dot_product(x.v, y.v) / (sqrt(x.n2) * sqrt(y.n2))
                        * 1000000e0 + 0.5e0) AS BIGINT) AS cos_micros
      FROM cand JOIN n x ON x.vec_id = ia JOIN n y ON y.vec_id = ib)
    SELECT * FROM s WHERE cos_micros >= {min_cos_micros}
    """


@query(
    "q_embedding_near_dup",
    oracle=_embedding_near_dup_oracle(400_000, n_planes=8, n_tables=4),
    description="Embedding-cosine near-duplicate pairs: sign-LSH bucket "
    "candidates (4 tables x 8 planes = 256 buckets/table; equi-self-join"
    " on (table,bucket), never all-pairs, ids-only until verification) +"
    " exact integer-cosine verification >= 0.4 — deterministic, so the "
    "oracle replays the identical hyperplanes.",
    refs=("§2.12",),
)
def q_embedding_near_dup(spark, sf_dir):
    from lakeflow.operators.similarity import embedding_near_dup

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup(
        emb, min_cos_micros=400_000, n_planes=8, n_tables=4, dim=64
    )


def _lsh_cand_cte() -> str:
    """Shared oracle fragment: shingles -> minhash signature -> banded
    buckets -> distinct candidate pairs (da < db). Mirrors
    minhash_signatures + lsh_candidate_pairs exactly."""
    from lakeflow.functions.hashing import sql_hash_slices

    slices = sql_hash_slices("s", seeds=("a", "b"))
    hcols = ", ".join(f"MIN({h}) AS mh{i}" for i, h in enumerate(slices))
    band_rows = "\n      UNION ALL\n".join(
        "      SELECT doc_id, {b} AS band_id, {h} AS band_hash FROM mh".format(
            b=b,
            h=SQL_SEEDED_HASH.format(
                seed=f"band{b}",
                x=f"mh{2 * b}::VARCHAR || '|' || mh{2 * b + 1}::VARCHAR",
            ),
        )
        for b in range(4)
    )
    return f"""{_shingle_cte()},
    mh AS (SELECT doc_id, {hcols} FROM ex GROUP BY doc_id),
    bands AS (
{band_rows}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id)"""


def _near_dup_oracle() -> str:
    # minhash candidate CTEs (same as q_minhash_lsh_pairs) + exact
    # jaccard verification over candidates only
    return f"""
    WITH {_lsh_cand_cte()},
    dsh AS (SELECT DISTINCT doc_id, s FROM ex),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM dsh GROUP BY doc_id),
    inter AS (
      SELECT c.da, c.db, COUNT(*) AS inter
      FROM cand c
      JOIN dsh x ON x.doc_id = c.da
      JOIN dsh y ON y.doc_id = c.db AND y.s = x.s
      GROUP BY c.da, c.db)
    SELECT * FROM (
      SELECT i.da AS doc_id_a, i.db AS doc_id_b,
             CAST(FLOOR(CAST(i.inter AS DOUBLE)
                        / CAST(za.sz + zb.sz - i.inter AS DOUBLE)
                        * 1000000e0 + 0.5e0) AS BIGINT) AS jaccard_micros
      FROM inter i JOIN sz za ON za.doc_id = i.da JOIN sz zb ON zb.doc_id = i.db) t
    WHERE jaccard_micros >= 10000
    """


@query(
    "q_near_dup_pipeline",
    oracle=_near_dup_oracle(),
    description="End-to-end near-dup dedup: MinHash-LSH candidate "
    "generation + exact Jaccard verification computed ONLY on candidates "
    "— the composition that scales to full corpora.",
    refs=("§2.12",),
)
def q_near_dup_pipeline(spark, sf_dir):
    from lakeflow.operators.similarity import near_dup_pairs

    d = load_table(spark, sf_dir, "documents")
    return near_dup_pairs(d, "doc_id", "text", min_jaccard_micros=10_000)


@query(
    "q_edit_distance_pairs",
    oracle=f"""
    WITH {_lsh_cand_cte()}
    SELECT c.da AS doc_id_a, c.db AS doc_id_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
           CAST(FLOOR((1e0 - levenshtein(a.text, b.text)
                        / CAST(greatest(length(a.text), length(b.text), 1) AS DOUBLE))
                      * 1000000e0 + 0.5e0) AS BIGINT) AS sim_micros
    FROM cand c
    JOIN documents a ON a.doc_id = c.da
    JOIN documents b ON b.doc_id = c.db
    """,
    description="Edit-distance verification on MinHash-LSH candidates: "
    "levenshtein + normalized similarity computed ONLY for candidate "
    "pairs (the O(len^2)-per-pair metric is affordable exactly because "
    "the equi-join pair generator bounds the pair count). Byte-identical"
    " pairs short-circuit to distance 0 via an md5 compare — exact-dup "
    "clusters are the degenerate hot case (a cluster of c copies yields "
    "c^2/2 candidate pairs) and paying O(len^2) per identical pair made "
    "a duplicate-heavy 10x corpus 125x slower; the shortcut is "
    "semantics-preserving (levenshtein(x,x)=0), so the oracle is the "
    "plain levenshtein.",
    refs=("§2.12", "F1"),
)
def q_edit_distance_pairs(spark, sf_dir):
    # The O(len^2) distance is computed ONCE PER DISTINCT CONTENT PAIR
    # (md5 pair), then joined back to the id-pairs: a dup-heavy corpus
    # has far more candidate id-pairs than distinct text-pairs (a
    # cluster of c copies of texts A,B yields ~c^2 candidate pairs but
    # ONE (A,B) computation). Measured at the 10x replicated corpus:
    # 53.8s -> ~flat, because the distinct-content-pair count barely
    # grows. Semantics unchanged (same md5 => same text), so the plain
    # per-pair oracle is untouched.
    d = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(d, "doc_id", "text", k=8)
    cand = lsh_candidate_pairs(sig, "doc_id", k=8, band_size=2)
    # candidate pairs stay NARROW (ids + md5 fingerprints): text bodies
    # never ride the pair relation through a shuffle
    fp = d.select("doc_id", F.md5("text").alias("f"))
    pairs = cand.join(
        fp.select(F.col("doc_id").alias("doc_id_a"), F.col("f").alias("__fa")),
        "doc_id_a",
    ).join(
        fp.select(F.col("doc_id").alias("doc_id_b"), F.col("f").alias("__fb")),
        "doc_id_b",
    )
    # three consumers (distinct pairs, needed fingerprints, final join)
    # sit downstream of the expensive minhash+LSH subtree — persist the
    # narrow (ids + fingerprints) relation so it materializes once.
    # Lifetime: the ambient scoped_cache if the runner installed one
    # (bench does, per query), else the session's.
    from lakeflow.caching import maybe_persist

    pairs = maybe_persist(pairs, None)
    uniq = pairs.select("__fa", "__fb").distinct()
    needed = (
        uniq.select(F.col("__fa").alias("f"))
        .union(uniq.select(F.col("__fb").alias("f")))
        .distinct()
    )
    # one representative text per needed fingerprint: the semi-join
    # prunes to candidate content, and min(text) partial-aggregates
    # map-side, so at most one body per (fingerprint, partition) moves
    rep = (
        d.select(F.md5("text").alias("f"), "text")
        .join(needed, "f", "left_semi")
        .groupBy("f")
        .agg(F.min("text").alias("t"))
    )
    with_txt = uniq.join(
        rep.select(F.col("f").alias("__fa"), F.col("t").alias("__ta")), "__fa"
    ).join(
        rep.select(F.col("f").alias("__fb"), F.col("t").alias("__tb")), "__fb"
    )
    lev = F.when(F.col("__fa") == F.col("__fb"), F.lit(0)).otherwise(
        F.levenshtein("__ta", "__tb")
    )
    maxlen = F.greatest(F.length("__ta"), F.length("__tb"), F.lit(1))
    scored = with_txt.select(
        "__fa",
        "__fb",
        lev.cast("long").alias("edit_dist"),
        F.floor(
            (F.lit(1.0) - lev / maxlen.cast("double")) * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("sim_micros"),
    )
    return pairs.join(scored, ["__fa", "__fb"]).select(
        "doc_id_a", "doc_id_b", "edit_dist", "sim_micros"
    )


_SAMPLE_RATES = {"src0": 1_000_000, "src1": 500_000, "src2": 250_000}
_SAMPLE_DEFAULT = 100_000


def _hash_sample_oracle() -> str:
    from lakeflow.operators.sampling import sql_hash_sample_pred

    rate = "CASE " + " ".join(
        f"WHEN source = '{s}' THEN {ppm}" for s, ppm in _SAMPLE_RATES.items()
    ) + f" ELSE {_SAMPLE_DEFAULT} END"
    pred = sql_hash_sample_pred("doc_id::VARCHAR", rate)
    return f"SELECT doc_id, source, lang FROM documents WHERE {pred}"


@query(
    "q_hash_sample",
    oracle=_hash_sample_oracle(),
    description="Deterministic stratified content-hash sampling (the "
    "domain-mixing primitive): keep a doc iff seeded_hash(doc_id) mod "
    "1e6 falls under its source's ppm rate. Reproducible across runs, "
    "engines and partitionings — unlike RNG-based df.sample — and "
    "nested (a 5% sample is a subset of the 10% sample). Narrow "
    "codegen'd scan filter: no shuffle, no state.",
    refs=("§2.12", "P11"),
)
def q_hash_sample(spark, sf_dir):
    from lakeflow.operators.sampling import stratified_hash_sample

    d = load_table(spark, sf_dir, "documents")
    return stratified_hash_sample(
        d, "doc_id", "source", _SAMPLE_RATES, default_ppm=_SAMPLE_DEFAULT
    ).select("doc_id", "source", "lang")


@query(
    "q_repetition_metrics",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    ex AS (
      SELECT doc_id, unnest(
        [t[i] || ' ' || t[i+1]
         for i in generate_series(1, greatest(len(t) - 1, 0))]) AS s
      FROM toks),
    per AS (SELECT doc_id, s, COUNT(*) AS c FROM ex GROUP BY doc_id, s),
    agg AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_shingles,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(MAX(c) AS BIGINT) AS top_count
      FROM per GROUP BY doc_id)
    SELECT doc_id, n_shingles, n_distinct,
           CAST(FLOOR((1e0 - n_distinct / CAST(n_shingles AS DOUBLE))
                      * 1000000e0 + 0.5e0) AS BIGINT) AS dup_fraction_micros,
           CAST(FLOOR(top_count / CAST(n_shingles AS DOUBLE)
                      * 1000000e0 + 0.5e0) AS BIGINT) AS top_fraction_micros
    FROM agg
    """,
    description="Gopher/C4-style within-document repetition metrics "
    "over word 2-grams: duplicate-shingle fraction and top-shingle "
    "fraction in exact micros — the boilerplate/spam signal for quality "
    "filtering. Explode + two hash-aggs; shuffle carries (id, count) "
    "rows, never bodies.",
    refs=("§2.12", "A5"),
)
def q_repetition_metrics(spark, sf_dir):
    from lakeflow.operators.text import repetition_profile

    d = load_table(spark, sf_dir, "documents")
    return repetition_profile(d, "doc_id", "text", n=2)


def _quality_lang_cte() -> str:
    # per-doc stats shared by q_corpus_prep: token count, quality score
    # (q_text_stats formula), predicted language (q_lang_id CASE)
    hits = ", ".join(
        f"{_sql_hits(w)} AS {l}_hits" for l, w in LANG_MARKERS.items()
    )
    return f"""
    s0 AS (
      SELECT doc_id, source, md5(text) AS fp,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
             CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS n_bad,
             CAST(greatest(length(text), 1) AS BIGINT) AS safe_len,
             {_sql_hits(STOPWORDS)} AS stop_hits,
             {hits}
      FROM documents),
    s1 AS (
      SELECT doc_id, source, fp, n_tokens,
             CAST(FLOOR((
               0.4e0 * least(CAST(n_tokens AS DOUBLE) / 100e0, 1e0)
               + 0.3e0 * (1e0 - (n_bad / CAST(safe_len AS DOUBLE)))
               + 0.3e0 * least((CAST(stop_hits AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE)) * 5e0, 1e0)
             ) * 1000000e0 + 0.5e0) AS BIGINT) AS quality_micros,
             CASE
               WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits AND en_hits >= zh_hits THEN 'en'
               WHEN de_hits >= es_hits AND de_hits >= fr_hits AND de_hits >= zh_hits THEN 'de'
               WHEN es_hits >= fr_hits AND es_hits >= zh_hits THEN 'es'
               WHEN fr_hits >= zh_hits THEN 'fr'
               ELSE 'zh'
             END AS pred_lang
      FROM s0)
    """


@query(
    "q_corpus_prep",
    oracle=f"""
    WITH {_quality_lang_cte()},
    kept AS (
      SELECT * FROM s1 WHERE pred_lang = 'en' AND quality_micros >= 500000),
    uniq AS (
      SELECT k.* FROM kept k
      JOIN (SELECT fp, MIN(doc_id) AS m FROM kept GROUP BY fp) w
        ON k.fp = w.fp AND k.doc_id = w.m),
    a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM s1 GROUP BY source),
    b AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept FROM kept GROUP BY source),
    c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_unique,
                 CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
          FROM uniq GROUP BY source)
    SELECT a.source, a.n_docs,
           COALESCE(b.n_kept, 0) AS n_kept,
           COALESCE(c.n_unique, 0) AS n_unique,
           COALESCE(c.sum_tokens, 0) AS sum_tokens
    FROM a LEFT JOIN b ON a.source = b.source
           LEFT JOIN c ON a.source = c.source
    """,
    description="Composed training-corpus prep pipeline per source: "
    "language-ID filter (predicted en) → quality threshold → exact "
    "dedup (min-id per content hash) → surviving doc/token counts. The "
    "one-pass funnel a pretraining data pipeline runs at intake; every "
    "stage is a reused, independently-oracled operator.",
    refs=("§2.12", "D1", "A5"),
)
def q_corpus_prep(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    scores = lang_scores("text")
    # per-doc stats feed three consumers (per-source totals, the keep
    # filter, the dedup winners) — persist so the regex-heavy scoring
    # scan runs once; rows are narrow (no text). Lifetime: the ambient
    # scoped_cache if the runner installed one, else the session's.
    from lakeflow.caching import maybe_persist

    stats = maybe_persist(
        d.select(
            "doc_id",
            "source",
            F.md5("text").alias("fp"),
            token_count("text").cast("long").alias("n_tokens"),
            F.floor(quality_score("text") * F.lit(1000000.0) + F.lit(0.5))
            .cast("long")
            .alias("quality_micros"),
            lang_pred(scores).alias("pred_lang"),
        ),
        None,
    )
    kept = stats.filter(
        (F.col("pred_lang") == "en") & (F.col("quality_micros") >= 500000)
    )
    winners = kept.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    uniq = kept.join(winners, ["fp", "doc_id"])
    zero = F.lit(0).cast("long")
    a = stats.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    b = kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))
    c = uniq.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.sum("n_tokens").alias("sum_tokens"),
    )
    return (
        a.join(b, "source", "left")
        .join(c, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_kept", zero).alias("n_kept"),
            F.coalesce("n_unique", zero).alias("n_unique"),
            F.coalesce("sum_tokens", zero).alias("sum_tokens"),
        )
    )


@query(
    "q_dup_clusters",
    oracle=f"""
    WITH RECURSIVE {_lsh_cand_cte()},
    e AS (SELECT da AS src, db AS dst FROM cand
          UNION SELECT db, da FROM cand),
    reach AS (
      SELECT src AS id, src AS r FROM e
      UNION
      SELECT e.src AS id, reach.r FROM e JOIN reach ON e.dst = reach.id),
    lbl AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
    FROM lbl
    """,
    description="Keep-one-per-cluster dedup assignment: connected "
    "components over MinHash-LSH candidate pairs via min-label "
    "propagation (operators/clusters.py) — each doc in a near-dup "
    "cluster gets the cluster's min doc_id as representative. The "
    "oracle computes the same transitive closure with a recursive CTE.",
    refs=("§2.12",),
)
def q_dup_clusters(spark, sf_dir):
    from pyspark.sql import Window as W

    from lakeflow.operators.clusters import min_label_components

    d = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(d, "doc_id", "text", k=8)
    cand = lsh_candidate_pairs(sig, "doc_id", k=8, band_size=2)
    lbl = min_label_components(
        cand, "doc_id_a", "doc_id_b", out_id="doc_id", out_label="cluster_id"
    )
    return lbl.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1))
        .over(W.partitionBy("cluster_id"))
        .cast("long")
        .alias("n_members"),
    )


@query(
    "q_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens
      FROM documents),
    p AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_token
      FROM t)
    SELECT doc_id, source, n_tokens, start_token,
           start_token // 512 AS seq_id,
           start_token % 512 AS offset_in_seq
    FROM p
    """,
    description="Concat-and-chunk sequence packing per shard: running "
    "token sum partitioned by source (never a global single-partition "
    "window) places each doc's first token into a fixed-budget "
    "sequence; integer div/mod keeps placements bit-reproducible.",
    refs=("§2.12", "§2.9"),
)
def q_pack_sequences(spark, sf_dir):
    from lakeflow.operators.packing import pack_sequences

    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "source", token_count("text").cast("long").alias("n_tokens"))
    return pack_sequences(t, "doc_id", "n_tokens", "source", budget=512)


@query(
    "q_incremental_near_dup",
    oracle=f"""
    WITH {_lsh_cand_cte()},
    inc AS (
      SELECT da, db FROM cand
      WHERE da % 10 = 0 OR db % 10 = 0),
    dsh AS (SELECT DISTINCT doc_id, s FROM ex),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM dsh GROUP BY doc_id),
    inter AS (
      SELECT c.da, c.db, COUNT(*) AS inter
      FROM inc c
      JOIN dsh x ON x.doc_id = c.da
      JOIN dsh y ON y.doc_id = c.db AND y.s = x.s
      GROUP BY c.da, c.db)
    SELECT * FROM (
      SELECT i.da AS doc_id_a, i.db AS doc_id_b,
             CAST(FLOOR(CAST(i.inter AS DOUBLE)
                        / CAST(za.sz + zb.sz - i.inter AS DOUBLE)
                        * 1000000e0 + 0.5e0) AS BIGINT) AS jaccard_micros
      FROM inter i JOIN sz za ON za.doc_id = i.da
                   JOIN sz zb ON zb.doc_id = i.db) t
    WHERE jaccard_micros >= 10000
    """,
    description="Incremental near-dup dedup — the continuous-ingest "
    "shape: an arriving batch (docs with id%10=0 stand in for it) "
    "computes signatures ONLY for itself, joins its bands against the "
    "persisted corpus index (banded_signatures) plus itself, and "
    "verifies exact Jaccard only for docs touched by candidates "
    "(semi-join pruned). Old x old pairs are never generated, so an "
    "increment costs |new| x bucket density, not |corpus|^2. The "
    "oracle computes all candidate pairs and keeps those with >= 1 "
    "new side — provably the same set.",
    refs=("§2.12",),
)
def q_incremental_near_dup(spark, sf_dir):
    from lakeflow.operators.similarity import (
        banded_signatures,
        incremental_candidate_pairs,
    )
    from lakeflow.operators.text import explode_shingles

    d = load_table(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 10 != 0)
    new = d.filter(F.col("doc_id") % 10 == 0)
    # in production stored_bands is a parquet table written at corpus
    # build time; here it derives from the same session for the oracle
    from lakeflow.caching import maybe_persist

    # every downstream branch (ids, shingles, sizes, intersection) would
    # otherwise re-derive the band pipeline from the raw scan — the
    # un-persisted form re-scanned documents ~40x in one physical plan.
    # The bands and the candidate set are the SHARED relations; persist
    # them (scope-aware) so verification reads cached rows.
    stored_bands = maybe_persist(
        banded_signatures(old, "doc_id", "text", k=8, band_size=2), None
    )
    new_bands = maybe_persist(
        banded_signatures(new, "doc_id", "text", k=8, band_size=2), None
    )
    cand = maybe_persist(
        incremental_candidate_pairs(new_bands, stored_bands, "doc_id"), None
    )

    # exact-Jaccard verification, shingling ONLY docs candidates touch
    ids = (
        cand.select(F.col("doc_id_a").alias("doc_id"))
        .union(cand.select(F.col("doc_id_b").alias("doc_id")))
        .distinct()
    )
    dsh = maybe_persist(
        explode_shingles(
            d.join(ids, "doc_id", "left_semi"), "doc_id", "text", 3
        ).distinct(),
        None,
    )
    sizes = dsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = dsh.select(F.col("doc_id").alias("doc_id_a"), "s")
    b = dsh.select(F.col("doc_id").alias("doc_id_b"), "s")
    inter = (
        cand.join(a, "doc_id_a")
        .join(b, ["doc_id_b", "s"])
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sza = sizes.select(F.col("doc_id").alias("doc_id_a"), F.col("sz").alias("sza"))
    szb = sizes.select(F.col("doc_id").alias("doc_id_b"), F.col("sz").alias("szb"))
    jm = F.floor(
        F.col("inter").cast("double")
        / (F.col("sza") + F.col("szb") - F.col("inter")).cast("double")
        * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("long")
    return (
        inter.join(sza, "doc_id_a")
        .join(szb, "doc_id_b")
        .select("doc_id_a", "doc_id_b", jm.alias("jaccard_micros"))
        .filter(F.col("jaccard_micros") >= 10000)
    )


@query(
    "q_multimodal_frames",
    oracle="""
    WITH h AS (SELECT doc_id AS id, md5(text) AS hx FROM documents),
    n AS (SELECT id, hx,
                 (('0x' || substr(hx, 1, 2))::BIGINT % 8) + 1 AS nf
          FROM h),
    f AS (SELECT id, hx, unnest(generate_series(0, nf - 1)) AS j FROM n)
    SELECT id, CAST(j AS INT) AS frame_idx,
           CAST(j * 1000 AS BIGINT) AS frame_ts_ms,
           md5(hx || ':' || j::VARCHAR) AS frame_md5
    FROM f
    """,
    description="Video frame sampling through the REAL mapInPandas 1:N "
    "plumbing (Arrow batches, row fan-out, binary payloads never "
    "shuffle): the deterministic fake decoder derives per-frame bytes "
    "from the payload's md5 hex, so the oracle reproduces every frame's "
    "content hash — the Python escape hatch itself is value-checked, "
    "not just shape-checked. Real decode stays honestly stubbed "
    "(no media libs in this sandbox).",
    refs=("§2.12", "§2.11"),
)
def q_multimodal_frames(spark, sf_dir):
    from lakeflow.operators.multimodal import sample_frames

    d = load_table(spark, sf_dir, "documents")
    mm = with_binary_payload(d, "text", "doc_id")
    out = sample_frames(mm, every_ms=1000, max_frames=8, fake=True)
    # the fake frame bytes ARE an md5 digest, so their hex is exactly
    # the oracle's md5(hex_digest || ':' || j) — full content check
    return out.select(
        "id",
        "frame_idx",
        "frame_ts_ms",
        F.lower(F.hex("frame")).alias("frame_md5"),
    )


def _pii_oracle() -> str:
    from lakeflow.operators.pii import PII_PATTERNS

    # the synthetic corpus carries no PII, so the query INJECTS
    # deterministic fake identifiers per doc (same expression on both
    # engines) before detecting/redacting — the detector is what's
    # under test, not the fixtures
    inject = (
        "text || ' contact user' || doc_id || '@mail.example.com'"
        " || ' or 10.0.' || (doc_id % 256) || '.1'"
        " || ' call 555-867-5309 ssn 123-45-6789'"
    )
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(t2, '{pat}')) AS BIGINT) AS n_{t}"
        for t, (pat, _) in PII_PATTERNS.items()
    )
    red = "t2"
    for pat, token in PII_PATTERNS.values():
        red = f"regexp_replace({red}, '{pat}', '{token}', 'g')"
    return f"""
    WITH t AS (SELECT doc_id, {inject} AS t2 FROM documents)
    SELECT doc_id, {counts}, md5({red}) AS redacted_md5
    FROM t
    """


@query(
    "q_pii_redact",
    oracle=_pii_oracle(),
    description="PII detection + redaction at scan speed: per-doc "
    "match counts for email/SSN/phone/IPv4 and the md5 of the redacted "
    "text (placeholder tokens substituted in a fixed type order). The "
    "corpus is synthetic word-soup, so deterministic fake identifiers "
    "are injected per doc on BOTH engines before detection — the "
    "regexes and redaction order are what the oracle verifies. Pure "
    "codegen regex; the NER tier would sit behind the same API as "
    "mapInPandas.",
    refs=("§2.12", "F1"),
)
def q_pii_redact(spark, sf_dir):
    from lakeflow.operators.pii import pii_profile

    d = load_table(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com"),
            F.lit(" or 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1"),
            F.lit(" call 555-867-5309 ssn 123-45-6789"),
        ).alias("text"),
    )
    prof = pii_profile(injected, "doc_id", "text")
    return prof.select(
        "doc_id",
        "n_email",
        "n_ssn",
        "n_phone",
        "n_ipv4",
        F.md5("redacted").alias("redacted_md5"),
    )


_SQL_BP_HASH = SQL_SEEDED_HASH.format(seed="bp", x="s")
_SQL_CT_HASH = SQL_SEEDED_HASH.format(seed="ct", x="s")


@query(
    "q_boilerplate",
    oracle=f"""
    WITH {_shingle_cte()},
    hs AS (SELECT doc_id, {_SQL_BP_HASH} AS h FROM ex),
    d AS (SELECT DISTINCT doc_id, h FROM hs),
    hot AS (SELECT h FROM d GROUP BY h HAVING COUNT(*) >= 5),
    tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
            FROM hs GROUP BY doc_id),
    hh AS (SELECT hs.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hot
           FROM hs JOIN hot ON hs.h = hot.h GROUP BY hs.doc_id)
    SELECT t.doc_id, t.n_shingles,
           COALESCE(h.n_hot, 0) AS n_hot,
           CAST(FLOOR(COALESCE(h.n_hot, 0) / CAST(t.n_shingles AS DOUBLE)
                      * 1000000e0 + 0.5e0) AS BIGINT) AS boilerplate_micros
    FROM tot t LEFT JOIN hh h ON t.doc_id = h.doc_id
    """,
    description="Cross-document boilerplate share: fraction of each "
    "doc's shingle occurrences whose shingle appears in >= 5 distinct "
    "docs (templates, footers, spam) — the C4/RefinedWeb line-dedup "
    "signal at scan time. Shingles reduce to 60-bit hashes before any "
    "shuffle; the hot set is doc-frequency-bounded, not corpus-sized.",
    refs=("§2.12", "A5"),
)
def q_boilerplate(spark, sf_dir):
    from lakeflow.operators.corpus import boilerplate_profile

    d = load_table(spark, sf_dir, "documents")
    return boilerplate_profile(d, "doc_id", "text", n=3, min_doc_freq=5)


@query(
    "q_contamination",
    oracle=f"""
    WITH trn AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0),
    bch AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
    ttoks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM trn),
    tex AS (
      SELECT doc_id, unnest(
        [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
         for i in generate_series(1, greatest(len(t) - 2, 0))]) AS s
      FROM ttoks),
    dsh AS (SELECT DISTINCT doc_id, {_SQL_CT_HASH} AS h FROM tex),
    btoks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM bch),
    bex AS (
      SELECT doc_id, unnest(
        [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
         for i in generate_series(1, greatest(len(t) - 2, 0))]) AS s
      FROM btoks),
    bsh AS (SELECT DISTINCT {_SQL_CT_HASH} AS h FROM bex),
    tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_distinct
            FROM dsh GROUP BY doc_id),
    hits AS (SELECT dsh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
             FROM dsh JOIN bsh ON dsh.h = bsh.h GROUP BY dsh.doc_id)
    SELECT t.doc_id, t.n_distinct,
           COALESCE(h.n_overlap, 0) AS n_overlap,
           CAST(FLOOR(COALESCE(h.n_overlap, 0) / CAST(t.n_distinct AS DOUBLE)
                      * 1000000e0 + 0.5e0) AS BIGINT) AS contamination_micros
    FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id
    """,
    description="Eval-set decontamination: per training doc, the share "
    "of its distinct 3-gram shingles that also occur in a benchmark "
    "corpus (here every 50th doc stands in for the eval set). The "
    "benchmark shingle-hash set is broadcast — eval sets are tiny next "
    "to training corpora — so the corpus never shuffles for the join.",
    refs=("§2.12",),
)
def q_contamination(spark, sf_dir):
    from lakeflow.operators.corpus import contamination_profile

    d = load_table(spark, sf_dir, "documents")
    trn = d.filter(F.col("doc_id") % 50 != 0)
    bch = d.filter(F.col("doc_id") % 50 == 0)
    return contamination_profile(trn, bch, "doc_id", "text", n=3)


@query(
    "q_drift_tvd",
    oracle="""
    WITH b AS (
      SELECT least(CAST(FLOOR(value / 50e0) AS BIGINT), 9) AS bin,
             CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS first_half
      FROM events),
    c AS (
      SELECT bin,
             CAST(SUM(first_half) AS BIGINT) AS n_first,
             CAST(SUM(1 - first_half) AS BIGINT) AS n_second
      FROM b GROUP BY bin),
    t AS (SELECT CAST(SUM(n_first) AS BIGINT) AS tf,
                 CAST(SUM(n_second) AS BIGINT) AS ts2 FROM c)
    SELECT bin, n_first, n_second,
           n_first * 1000000 // tf AS p_micros,
           n_second * 1000000 // ts2 AS q_micros,
           abs(n_first * 1000000 // tf - n_second * 1000000 // ts2) AS diff_micros
    FROM c, t
    """,
    description="Training-data distribution drift: value histogram of "
    "the first vs second half of the event stream in fixed bins, "
    "per-bin proportions and |p-q| in exact integer micros (total "
    "variation distance = sum(diff)/2) — the scan-time drift monitor "
    "for pipeline data quality; all integer arithmetic, no log calls "
    "whose libm rounding could diverge across engines.",
    refs=("§2.12", "A5", "F6"),
)
def q_drift_tvd(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    from lakeflow.functions.exact import lit_ts

    first = (
        F.col("ts") < lit_ts(ev, "ts", "2024-01-16")
    ).cast("long")
    binned = ev.select(
        F.least(F.floor(F.col("value") / F.lit(50.0)).cast("long"), F.lit(9)).alias(
            "bin"
        ),
        first.alias("first_half"),
    )
    c = binned.groupBy("bin").agg(
        F.sum("first_half").alias("n_first"),
        F.sum(F.lit(1) - F.col("first_half")).alias("n_second"),
    )
    t = c.agg(
        F.sum("n_first").alias("tf"), F.sum("n_second").alias("ts2")
    )
    p = (F.col("n_first") * F.lit(1000000)).cast("long") / F.col("tf")
    q = (F.col("n_second") * F.lit(1000000)).cast("long") / F.col("ts2")
    pf = F.floor(p).cast("long")
    qf = F.floor(q).cast("long")
    return c.crossJoin(F.broadcast(t)).select(
        "bin",
        "n_first",
        "n_second",
        pf.alias("p_micros"),
        qf.alias("q_micros"),
        F.abs(pf - qf).alias("diff_micros"),
    )


def _kmeans_cte(
    k: int | str = 8, n_iter: int = 2, dim: int = 64, where: str = ""
) -> tuple[str, str]:
    """DuckDB mirror of ``operators.kmeans``: unrolled Lloyd's rounds
    as a CTE chain. Returns (cte_block, final_assignment_alias). The
    chain mirrors the operator exactly: seeded-hash init (c0), then
    per round assignment a_i (argmax 2*v.c - c.c, ties to the LARGER
    cell — Spark's array_max struct ordering) and centroid recompute
    c_i (truncating integer division, empty cells carry over); the
    FINAL assignment runs against c_{n_iter}. ``k`` may be a SQL
    expression string (e.g. a subquery LIMIT) for corpus-derived k —
    the rest of the chain is k-agnostic. ``where`` filters the fit
    corpus (e.g. the stored 90% for incremental queries)."""
    parts = [
        f"e AS (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings"
        + (f" WHERE {where}" if where else "")
        + ")",
        "h AS (SELECT vec_id, v, "
        + SQL_SEEDED_HASH.format(seed="kmeans", x="CAST(vec_id AS VARCHAR)")
        + " AS hh FROM e)",
        "c0 AS (SELECT row_number() OVER (ORDER BY hh, vec_id) - 1 AS cell, "
        f"v AS cv FROM h ORDER BY hh, vec_id LIMIT {k})",
    ]
    for i in range(1, n_iter + 2):
        parts.append(
            f"s{i} AS (SELECT e.vec_id, e.v, c{i - 1}.cell, "
            f"2*list_dot_product(e.v, c{i - 1}.cv) - "
            f"list_dot_product(c{i - 1}.cv, c{i - 1}.cv) AS sc "
            f"FROM e CROSS JOIN c{i - 1})"
        )
        parts.append(
            f"a{i} AS (SELECT vec_id, v, cell FROM ("
            "SELECT *, row_number() OVER (PARTITION BY vec_id "
            f"ORDER BY sc DESC, cell DESC) AS rn FROM s{i}) t WHERE rn = 1)"
        )
        if i <= n_iter:
            parts.append(
                f"x{i} AS (SELECT cell, unnest(v) AS x, "
                f"unnest(generate_series(1, {dim})) AS pos FROM a{i})"
            )
            parts.append(
                f"m{i} AS (SELECT cell, pos, CAST(SUM(x) AS BIGINT) // "
                f"CAST(COUNT(*) AS BIGINT) AS cx FROM x{i} GROUP BY cell, pos)"
            )
            parts.append(
                f"cn{i} AS (SELECT cell, list(cx ORDER BY pos) AS cv "
                f"FROM m{i} GROUP BY cell)"
            )
            parts.append(
                f"c{i} AS (SELECT p.cell, COALESCE(cn{i}.cv, p.cv) AS cv "
                f"FROM c{i - 1} p LEFT JOIN cn{i} USING (cell))"
            )
    return ",\n    ".join(parts), f"a{n_iter + 1}"


_KM_CTE, _KM_FINAL = _kmeans_cte(k=8, n_iter=2, dim=64)


@query(
    "q_kmeans_cells",
    oracle=f"""
    WITH {_KM_CTE}
    SELECT vec_id, cell FROM {_KM_FINAL}
    """,
    description="Distributed k-means (Lloyd's, 8 cells, 2 rounds) over "
    "the embedding corpus: assignment is a narrow map (centroids "
    "constant-folded as literals, no join/shuffle), recompute is one "
    "posexplode hash-agg with map-side combine (<= k*dim rows per "
    "partition reach the shuffle) — the MLlib iteration shape, exact "
    "integer micro-units end to end.",
    refs=("§2.12",),
)
def q_kmeans_cells(spark, sf_dir):
    from lakeflow.operators.kmeans import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, k=8, n_iter=2)


#: corpus-derived k (cells of ~250 vectors) so within-cell pair work
#: stays linear as the corpus grows; floor of 2 matches derive_k's k_min
_KM_CTE_DYN, _KM_FINAL_DYN = _kmeans_cte(
    k="(SELECT GREATEST(2, (COUNT(*) + 249) // 250) FROM e)"
)


@query(
    "q_semantic_dedup",
    oracle=f"""
    WITH {_KM_CTE_DYN},
    n AS (SELECT vec_id, v, cell, list_dot_product(v, v) AS n2 FROM {_KM_FINAL_DYN})
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b, a.cell,
           CAST(FLOOR(list_dot_product(a.v, b.v) / (sqrt(a.n2) * sqrt(b.n2))
                      * 1000000e0 + 0.5e0) AS BIGINT) AS cos_micros
    FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE CAST(FLOOR(list_dot_product(a.v, b.v) / (sqrt(a.n2) * sqrt(b.n2))
                     * 1000000e0 + 0.5e0) AS BIGINT) >= 300000
    """,
    description="SemDeDup-style semantic near-dup pairs: k-means "
    "clusters the corpus, then pairwise cosine runs ONLY within each "
    "cell -- never all-pairs. k is corpus-derived (cells of ~250 "
    "vectors, one count pass; the oracle mirrors it with a subquery "
    "LIMIT) so pair work stays LINEAR in corpus size; beyond 512 cells "
    "assignment switches to the broadcast-centroid path. Threshold "
    "0.30 suits this synthetic corpus's near-random cosine "
    "distribution; production corpora use ~0.95+.",
    refs=("§2.12",),
)
def q_semantic_dedup(spark, sf_dir):
    from lakeflow.operators.kmeans import semantic_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dup_pairs(
        emb, k=2, n_iter=2, min_cos_micros=300_000, target_cell_size=250
    )


#: fit on the STORED 90% only (the index existed before the batch
#: arrived), k derived from the stored count — mirrors the Spark side
_KM_CTE_STORED, _ = _kmeans_cte(
    k="(SELECT GREATEST(2, (COUNT(*) + 249) // 250) FROM e)",
    where="vec_id % 10 <> 0",
)


@query(
    "q_incremental_semantic",
    oracle=f"""
    WITH {_KM_CTE_STORED},
    ae AS (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings),
    sc AS (SELECT ae.vec_id, ae.v, c2.cell,
                  2*list_dot_product(ae.v, c2.cv)
                  - list_dot_product(c2.cv, c2.cv) AS sc
           FROM ae CROSS JOIN c2),
    asg AS (SELECT vec_id, v, cell FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY sc DESC, cell DESC) AS rn FROM sc) t WHERE rn = 1),
    n AS (SELECT vec_id, v, cell, list_dot_product(v, v) AS n2 FROM asg)
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b, a.cell,
           CAST(FLOOR(list_dot_product(a.v, b.v) / (sqrt(a.n2) * sqrt(b.n2))
                      * 1000000e0 + 0.5e0) AS BIGINT) AS cos_micros
    FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE (a.vec_id % 10 = 0 OR b.vec_id % 10 = 0)
      AND CAST(FLOOR(list_dot_product(a.v, b.v) / (sqrt(a.n2) * sqrt(b.n2))
                     * 1000000e0 + 0.5e0) AS BIGINT) >= 300000
    """,
    description="Incremental SemDeDup (kmeans.incremental_semantic_"
    "pairs): the batch of vectors with vec_id%10=0 assigned to the "
    "FIXED centroids of a semantic index fit on the other 90%, then "
    "near-dup pairs from the new x stored within-cell equi-join plus "
    "new x new — stored x stored never regenerated, cost "
    "batch-proportional (|batch| x cell size). The oracle replays the "
    "stored-only k-means fit, assigns ALL vectors against its final "
    "centroids, and keeps pairs touching a new vector — so the green "
    "row certifies incremental == batch-recompute for the semantic "
    "tier, completing the incremental family (LSH, exact setsim, "
    "linkage, semantic).",
    refs=("§2.12", "J2"),
)
def q_incremental_semantic(spark, sf_dir):
    from lakeflow.caching import maybe_persist
    from lakeflow.operators.kmeans import (
        derive_k,
        incremental_semantic_pairs,
        kmeans_centroids,
        semantic_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    new = emb.filter(F.col("vec_id") % 10 == 0)
    stored = emb.filter(F.col("vec_id") % 10 != 0)
    # in production the centroids + assignments are a PERSISTED index
    # (semantic_index_fit); this query derives them in-flight for
    # self-containment, persisting the assignment relation — it feeds
    # the new x stored join once per batch
    k = derive_k(stored.count(), 250)
    cents = kmeans_centroids(stored, k=k, n_iter=2)
    idx = maybe_persist(semantic_index(stored, cents), None)
    return incremental_semantic_pairs(new, idx, cents, min_cos_micros=300_000)


@query(
    "q_cluster_purity",
    oracle=f"""
    WITH {_KM_CTE},
    el AS (SELECT vec_id, CAST(label AS BIGINT) AS lbl FROM embeddings),
    d AS (SELECT a.vec_id, a.cell, el.lbl,
                 CAST(list_dot_product(a.v, a.v)
                      - (2*list_dot_product(a.v, c.cv)
                         - list_dot_product(c.cv, c.cv)) AS BIGINT) AS d2
          FROM {_KM_FINAL} a JOIN c2 c USING (cell)
          JOIN el ON el.vec_id = a.vec_id),
    g AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vectors,
                 CAST(SUM(d2) AS BIGINT) AS inertia
          FROM d GROUP BY cell),
    lc AS (SELECT cell, lbl, COUNT(*) AS cnt FROM d GROUP BY cell, lbl),
    dom AS (SELECT cell, lbl AS dom_label, CAST(cnt AS BIGINT) AS n_dominant
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY cell ORDER BY cnt DESC, lbl ASC) AS rn
                  FROM lc) t WHERE rn = 1)
    SELECT g.cell, n_vectors, inertia, dom_label, n_dominant,
           (n_dominant * 1000000) // n_vectors AS purity_micros
    FROM g JOIN dom USING (cell)
    """,
    description="k-means fit diagnostics per cell: exact integer "
    "inertia (||v - c||^2 from the SAME argmax structs as assignment, "
    "no second distance pass), dominant ground-truth label and purity "
    "— the monitoring surface for choosing k; per-row d2 stays in "
    "longs so cross-row sums are exact in both engines.",
    refs=("§2.12", "A5"),
)
def q_cluster_purity(spark, sf_dir):
    from lakeflow.operators.kmeans import kmeans_diagnostics

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_diagnostics(emb, k=8, n_iter=2, label_col="label")


@query(
    "q_token_budget_mix",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tok,
             {SQL_SEEDED_HASH.format(seed="mix", x="CAST(doc_id AS VARCHAR)")} AS hh
      FROM documents),
    r AS (
      SELECT source, doc_id, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY hh, doc_id) AS run
      FROM t)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_kept
    FROM r WHERE run <= 800 GROUP BY source
    """,
    description="Per-source token-budget mixing: keep docs from each "
    "source in deterministic seeded-hash order until the source's "
    "cumulative token count hits the budget — bounds each domain's "
    "ABSOLUTE contribution (mixture enforcement under skewed domain "
    "sizes). One shuffle (partition by source); no global sort.",
    refs=("§2.12", "§2.9"),
)
def q_token_budget_mix(spark, sf_dir):
    from lakeflow.operators.sampling import token_budget_sample

    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", token_count("text").cast("long").alias("n_tok")
    )
    kept = token_budget_sample(d, "source", "n_tok", budget=800)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_tok").alias("tokens_kept"),
    )


_TMIX_HASH = SQL_SEEDED_HASH.format(seed="tmix", x="CAST(doc_id AS VARCHAR)")


@query(
    "q_temperature_mix",
    oracle=f"""
    WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows
               FROM documents GROUP BY source),
    s AS (SELECT source, n_rows,
            CAST(FLOOR(sqrt(CAST(n_rows AS DOUBLE)) * 1000000e0 + 0.5e0)
                 AS BIGINT) AS sm
          FROM c),
    z AS (SELECT CAST(SUM(sm) AS BIGINT) AS zz FROM s),
    r AS (SELECT source, n_rows,
            LEAST(CAST(1000000 AS BIGINT),
                  CAST(FLOOR(CAST(CAST(300 AS HUGEINT) * CAST(sm AS HUGEINT)
                                  * CAST(1000000 AS HUGEINT) AS DOUBLE)
                             / CAST(CAST(n_rows AS HUGEINT)
                                    * CAST(zz AS HUGEINT) AS DOUBLE))
                       AS BIGINT)) AS rate_ppm
          FROM s CROSS JOIN z),
    k AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept
          FROM documents d JOIN r USING (source)
          WHERE ({_TMIX_HASH} % 1000000) < rate_ppm
          GROUP BY d.source)
    SELECT r.source, n_rows, rate_ppm,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM r LEFT JOIN k ON r.source = k.source
    """,
    description="Temperature-weighted domain mixing "
    "(operators/sampling.temperature_mix_rates/_sample — the XLM-R / "
    "mT5 rule p_d ∝ n_d^alpha, alpha=1/2): per-source keep rates that "
    "hit an expected 300-row total with the tempered mix (head "
    "sources down-weighted, tail sources kept whole via the 1e6-ppm "
    "cap), then the deterministic content-hash sample at those rates. "
    "Weights are repeated IEEE sqrt quantized to integer micros, the "
    "normalizer an order-free integer sum, the rate one double "
    "division of exact decimal(38)/HUGEINT products — bit-identical "
    "on both engines. One count aggregate + a broadcast of #domains "
    "rows + a narrow filter at the scan: the corpus is read once "
    "(rates relation persisted across its two consumers).",
    refs=("§2.12", "A5"),
)
def q_temperature_mix(spark, sf_dir):
    from lakeflow.caching import maybe_persist
    from lakeflow.operators.sampling import (
        temperature_mix_rates,
        temperature_mix_sample,
    )

    d = load_table(spark, sf_dir, "documents")
    rates = maybe_persist(temperature_mix_rates(d, "source", 300), None)
    kept = temperature_mix_sample(d, "doc_id", "source", 300, rates=rates)
    kc = kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))
    return rates.join(kc, "source", "left").select(
        "source",
        "n_rows",
        "rate_ppm",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
    )


@query(
    "q_heavy_hitters",
    oracle=f"""
    WITH ex AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS token FROM documents),
    t AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
      FROM ex WHERE token <> '' GROUP BY token)
    SELECT token, n_occurrences, doc_freq, rnk FROM (
      SELECT *, row_number() OVER (
        ORDER BY n_occurrences DESC, token ASC) AS rnk
      FROM t) z WHERE rnk <= 30
    """,
    description="Exact corpus-level token heavy hitters (top 30 by "
    "occurrence, with document frequency): explode + one hash-agg "
    "whose map-side partial combine pre-reduces hot tokens before the "
    "shuffle; final top-k is a TakeOrdered over the distinct-token "
    "relation, never a global sort.",
    refs=("§2.12", "A5", "D3"),
)
def q_heavy_hitters(spark, sf_dir):
    from lakeflow.operators.corpus import vocab_heavy_hitters

    d = load_table(spark, sf_dir, "documents")
    return vocab_heavy_hitters(d, k=30)


@query(
    "q_heavy_hitters_approx",
    # approximate-by-design (sketch-based): the oracle asserts the
    # CONTRACT — same pattern as q_lsh_ann — that the sketch recovers
    # >= 27 of the exact top-30 AND every recovered count is within 2%
    oracle="""
    SELECT CAST(30 AS BIGINT) AS n_topk, TRUE AS topk_pass
    """,
    description="Sketch-based heavy hitters (Spark 4 approx_top_k): "
    "the scale path when the distinct-token universe is too large for "
    "an exact hash-agg (billions of web tokens) — one pass, bounded "
    "sketch state per partition, mergeable. Contract-checked against "
    "the exact baseline: >= 27/30 recovered, counts within 2% "
    "(integer-exact comparison).",
    refs=("§2.12", "A5"),
)
def q_heavy_hitters_approx(spark, sf_dir):
    from lakeflow.operators.corpus import vocab_heavy_hitters
    from lakeflow.operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    ex = d.select(F.explode(tokens("text")).alias("token")).filter(
        F.col("token") != ""
    )
    approx = (
        ex.agg(F.expr("approx_top_k(token, 30, 4096)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("token"),
            F.col("e.count").alias("approx_count"),
        )
    )
    exact = vocab_heavy_hitters(d, k=30).select("token", "n_occurrences")
    joined = exact.join(approx, "token", "left")
    # integer-exact 2% bound: 50*|approx - exact| <= exact
    ok_cnt = (
        F.col("approx_count").isNotNull()
        & (
            F.abs(F.col("approx_count") - F.col("n_occurrences")) * F.lit(50)
            <= F.col("n_occurrences")
        )
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_topk"),
        (F.sum(ok_cnt.cast("long")) >= F.lit(27)).alias("topk_pass"),
    )


_SQL_NORM_FP = (
    "md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
    " '\\s+', ' ', 'g')))"
)


@query(
    "q_leakage_safe_split",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tok,
             {SQL_SEEDED_HASH.format(seed="split", x=_SQL_NORM_FP)} % 1000000 AS b
      FROM documents),
    s AS (
      SELECT doc_id, n_tok,
             CASE WHEN b < 900000 THEN 'train'
                  WHEN b < 950000 THEN 'val'
                  ELSE 'test' END AS split
      FROM f)
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM s GROUP BY split
    """,
    description="Leakage-safe train/val/test split (90/5/5): the split "
    "bucket is hashed from the NORMALIZED CONTENT fingerprint, so "
    "exact duplicates always share a split and cannot leak across the "
    "train/eval boundary the way a row-random split lets them. Narrow "
    "codegen'd map at the scan; one agg for the per-split census.",
    refs=("§2.12", "F1"),
)
def q_leakage_safe_split(spark, sf_dir):
    from lakeflow.operators.sampling import leakage_safe_split

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        token_count("text").cast("long").alias("n_tok"),
        normalized_fingerprint("text").alias("fp"),
    )
    s = leakage_safe_split(d, "fp")
    return s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )


@query(
    "q_cluster_safe_split",
    oracle=f"""
    WITH RECURSIVE {_lsh_cand_cte()},
    e AS (SELECT da AS src, db AS dst FROM cand
          UNION SELECT db, da FROM cand),
    reach AS (
      SELECT src AS id, src AS r FROM e
      UNION
      SELECT e.src AS id, reach.r FROM e JOIN reach ON e.dst = reach.id),
    lbl AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
    f AS (
      SELECT d.doc_id, COALESCE(lbl.cluster_id, d.doc_id) AS cl
      FROM documents d LEFT JOIN lbl ON lbl.doc_id = d.doc_id),
    s AS (
      SELECT cl,
             {SQL_SEEDED_HASH.format(seed="split", x="CAST(cl AS VARCHAR)")}
               % 1000000 AS b
      FROM f)
    SELECT CASE WHEN b < 900000 THEN 'train'
                WHEN b < 950000 THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT cl) AS BIGINT) AS n_clusters
    FROM s GROUP BY 1
    """,
    description="NEAR-dup-safe train/val/test split: the split bucket "
    "is hashed from the doc's near-dup CLUSTER label (connected "
    "components over MinHash-LSH candidate pairs; singletons use "
    "their own id), so even fuzzy duplicates cannot straddle the "
    "train/eval boundary — the composition the leakage-safe-split "
    "docstring promises.",
    refs=("§2.12",),
)
def q_cluster_safe_split(spark, sf_dir):
    from lakeflow.operators.clusters import min_label_components
    from lakeflow.operators.sampling import leakage_safe_split

    d = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(d, "doc_id", "text", k=8)
    cand = lsh_candidate_pairs(sig, "doc_id", k=8, band_size=2)
    lbl = min_label_components(
        cand, "doc_id_a", "doc_id_b", out_id="doc_id", out_label="cluster_id"
    )
    full = (
        d.select("doc_id")
        .join(lbl, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cl"),
        )
    )
    s = leakage_safe_split(full, F.col("cl").cast("string"))
    return s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cl").alias("n_clusters"),
    )


@query(
    "q_chunk_windows",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, n_tokens,
             1 + (GREATEST(0, n_tokens - 64) + 47) // 48 AS n_chunks
      FROM t),
    x AS (
      SELECT doc_id, n_tokens,
             CAST(unnest(generate_series(0, n_chunks - 1)) AS BIGINT) AS chunk_id
      FROM c)
    SELECT doc_id, n_tokens, chunk_id,
           chunk_id * 48 AS start_token,
           LEAST(64, n_tokens - chunk_id * 48) AS chunk_len
    FROM x
    """,
    description="Per-document sliding context windows (size 64, "
    "overlap 16): closed-form chunk fan-out from the token count — "
    "one explode, narrow map at the scan, no shuffle. Complements "
    "cross-doc concat-and-chunk packing (q_pack_sequences).",
    refs=("§2.12", "N7"),
)
def q_chunk_windows(spark, sf_dir):
    from lakeflow.operators.packing import chunk_windows

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").cast("long").alias("n_tokens")
    )
    return chunk_windows(d, "n_tokens", size=64, overlap=16)


@query(
    "q_tfidf_terms",
    oracle=f"""
    WITH ex AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS token FROM documents),
    tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM ex WHERE token <> '' GROUP BY doc_id, token),
    dfreq AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
    w AS (
      SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
             tf.tf * (1000000000 // dfreq.df) AS weight
      FROM tf JOIN dfreq USING (token)
      WHERE tf.doc_id % 20 = 0)
    SELECT doc_id, token, tf, df, weight, rnk FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY weight DESC, token ASC) AS rnk
      FROM w) z WHERE rnk <= 3
    """,
    description="TF-IDF-style salient terms (top 3 per sampled doc): "
    "per-(doc,token) tf agg, doc frequency derived FROM the tf "
    "relation (no second corpus scan), equi-join on token (AQE "
    "handles stopword skew), per-doc window top-k. Weight is the "
    "integer tf * (1e9 // df) — monotone in tf/df without "
    "cross-engine log ULP risk.",
    refs=("§2.12", "A5", "§2.9"),
)
def q_tfidf_terms(spark, sf_dir):
    from pyspark.sql import Window as W

    from lakeflow.operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    ex = d.select("doc_id", F.explode(tokens("text")).alias("token")).filter(
        F.col("token") != ""
    )
    tf = ex.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = (
        tf.filter(F.col("doc_id") % 20 == 0)
        .join(dfreq, "token")
        .withColumn("weight", F.col("tf") * F.expr("1000000000L div df"))
    )
    win = W.partitionBy("doc_id").orderBy(F.desc("weight"), F.asc("token"))
    return (
        w.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "token", "tf", "df", "weight", "rnk")
    )


@query(
    "q_quality_band",
    oracle=f"""
    WITH {_quality_lang_cte()},
    thr AS (
      SELECT quantile_cont(quality_micros, 0.05e0) AS lo,
             quantile_cont(quality_micros, 0.95e0) AS hi
      FROM s1),
    k AS (
      SELECT s1.source, s1.quality_micros
      FROM s1, thr
      WHERE s1.quality_micros >= thr.lo AND s1.quality_micros <= thr.hi)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
           MIN(quality_micros) AS min_q, MAX(quality_micros) AS max_q
    FROM k GROUP BY source
    """,
    description="Percentile-band quality filter via "
    "operators/corpus.percentile_band: global p05/p95 thresholds over "
    "the integer quality score broadcast as a 1-row relation into the "
    "filter — the outlier-trimming pass of a corpus funnel with no "
    "global sort and no second threshold scan of the corpus beyond the "
    "percentile aggregate itself. This oracle row runs the exact "
    "interpolated percentile for bit parity with DuckDB; the 100 TB "
    "path is approx=True (approx_percentile sketch, bounded rank-error "
    "contract tested in test_training_ops), because the exact "
    "aggregate buffers every value in one aggregation state.",
    refs=("§2.12", "A5"),
)
def q_quality_band(spark, sf_dir):
    from lakeflow.operators.corpus import percentile_band

    d = load_table(spark, sf_dir, "documents")
    s = d.select(
        "source",
        F.floor(quality_score("text") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("quality_micros"),
    )
    kept = percentile_band(s, "quality_micros", 0.05, 0.95, approx=False)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("quality_micros").alias("min_q"),
        F.max("quality_micros").alias("max_q"),
    )


@query(
    "q_quality_band_approx",
    # the sketch thresholds are approximate-by-design (and their exact
    # value may depend on partial-merge order), so the oracle checks
    # the RANK-ERROR CONTRACT instead of the values — same pattern as
    # the ANN recall contracts (q_lsh_ann): the Spark side verifies
    # the Greenwald-Khanna bound (each threshold's rank within
    # n/accuracy positions of the target percentile rank, ties handled
    # via the [cnt_lt, cnt_le] rank interval) and emits pass booleans;
    # the oracle asserts TRUE with the exact doc count.
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           TRUE AS lo_pass, TRUE AS hi_pass, TRUE AS kept_pass
    FROM documents
    """,
    description="The SCALE path of the percentile-band quality filter "
    "(operators/corpus.percentile_band approx=True): thresholds from "
    "approx_percentile, a Greenwald-Khanna-style sketch whose partial "
    "state is O(accuracy*log n) regardless of corpus size — this, not "
    "the exact buffering aggregate benched by q_quality_band's oracle "
    "twin, is what runs at 100 TB. Certified via the documented rank "
    "bound: each threshold's rank interval [cnt_lt+1, cnt_le] must "
    "intersect [(p-eps)n - 1, (p+eps)n + 1] with eps = 1/accuracy "
    "(integer cross-multiplied, no float compare), and the kept band "
    "must retain at least (0.9 - 2*eps)n - 2 rows.",
    refs=("§2.12", "A5"),
)
def q_quality_band_approx(spark, sf_dir):
    acc = 10_000
    d = load_table(spark, sf_dir, "documents")
    s = d.select(
        F.floor(quality_score("text") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("q")
    )
    thr = s.agg(
        F.percentile_approx("q", F.array(F.lit(0.05), F.lit(0.95)), acc).alias("__b")
    ).select(
        F.element_at("__b", 1).alias("lo"), F.element_at("__b", 2).alias("hi")
    )
    j = s.crossJoin(F.broadcast(thr))
    c = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("q") < F.col("lo")).cast("long")).alias("lt_lo"),
        F.sum((F.col("q") <= F.col("lo")).cast("long")).alias("le_lo"),
        F.sum((F.col("q") < F.col("hi")).cast("long")).alias("lt_hi"),
        F.sum((F.col("q") <= F.col("hi")).cast("long")).alias("le_hi"),
        F.sum(
            ((F.col("q") >= F.col("lo")) & (F.col("q") <= F.col("hi"))).cast("long")
        ).alias("kept"),
    )
    n = F.col("n")
    A = F.lit(acc)
    # rank interval of threshold t is [lt+1, le]; contract: it must
    # intersect [(p-eps)n - 1, (p+eps)n + 1]. All integer, scaled by
    # 100*acc (p in percent): lt*100*acc <= p*acc*n + 100*n + 100*acc
    # AND le*100*acc >= p*acc*n - 100*n - 100*acc.
    def _rank_pass(lt, le, pct):
        target = F.lit(pct) * A * n
        slack = F.lit(100) * n + F.lit(100) * A
        return (F.col(lt) * F.lit(100) * A <= target + slack) & (
            F.col(le) * F.lit(100) * A >= target - slack
        )

    kept_floor = (F.lit(90) * A - F.lit(200)) * n - F.lit(200) * A
    return c.select(
        n.alias("n_docs"),
        _rank_pass("lt_lo", "le_lo", 5).alias("lo_pass"),
        _rank_pass("lt_hi", "le_hi", 95).alias("hi_pass"),
        (F.col("kept") * F.lit(100) * A >= kept_floor).alias("kept_pass"),
    )


@query(
    "q_collocations",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    ex AS (
      SELECT doc_id, unnest(toks) AS tok,
             unnest(generate_series(1, len(toks))) AS pos
      FROM t),
    uni AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM ex
      WHERE tok <> '' GROUP BY tok),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS big_n FROM uni),
    bg AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM ex a JOIN ex b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      WHERE a.tok <> '' AND b.tok <> ''
      GROUP BY 1, 2),
    sc AS (
      SELECT tok_a, tok_b, n_ab,
             (n_ab * big_n * 1000000) // (ua.n * ub.n) AS lift_micros
      FROM bg JOIN uni ua ON ua.tok = tok_a
              JOIN uni ub ON ub.tok = tok_b
              CROSS JOIN tot
      WHERE n_ab >= 5)
    SELECT tok_a, tok_b, n_ab, lift_micros, rnk FROM (
      SELECT *, row_number() OVER (
        ORDER BY lift_micros DESC, tok_a ASC, tok_b ASC) AS rnk
      FROM sc) z WHERE rnk <= 20
    """,
    description="Collocation discovery: adjacent-token bigram counts "
    "(built with array slice+zip — a narrow map, no positional "
    "self-join on the Spark side), unigram join, integer PMI-proxy "
    "lift = n_ab*N*1e6 // (n_a*n_b) (monotone in PMI, no cross-engine "
    "log ULP risk), min-support 5, top-20.",
    refs=("§2.12", "F8", "A5"),
)
def q_collocations(spark, sf_dir):
    from pyspark.sql import Window as W

    from lakeflow.operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens("text").alias("toks"))
    ex = t.select("doc_id", F.explode("toks").alias("tok")).filter(
        F.col("tok") != ""
    )
    uni = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    tot = uni.agg(F.sum("n").alias("big_n"))
    bg = (
        t.select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("toks"), 1, F.size("toks") - 1),
                    F.slice(F.col("toks"), 2, F.size("toks") - 1),
                    lambda x, y: F.struct(x.alias("tok_a"), y.alias("tok_b")),
                )
            ).alias("p")
        )
        .select(F.col("p.tok_a"), F.col("p.tok_b"))
        .filter((F.col("tok_a") != "") & (F.col("tok_b") != ""))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("n").alias("n_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("n").alias("n_b"))
    sc = (
        bg.join(ua, "tok_a")
        .join(ub, "tok_b")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "lift_micros",
            F.expr("(n_ab * big_n * 1000000L) div (n_a * n_b)"),
        )
    )
    # Top-20 via orderBy().limit() → TakeOrderedAndProject (per-partition
    # heaps), never a full sort of the scored-bigram relation through one
    # task; rnk is derived afterwards on the 20 surviving rows only.
    topk = sc.orderBy(
        F.desc("lift_micros"), F.asc("tok_a"), F.asc("tok_b")
    ).limit(20)
    w = W.orderBy(F.desc("lift_micros"), F.asc("tok_a"), F.asc("tok_b"))
    return (
        topk.withColumn("rnk", F.row_number().over(w))
        .select("tok_a", "tok_b", "n_ab", "lift_micros", "rnk")
    )


@query(
    "q_clean_lines",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split(text, chr(10)) AS lines FROM documents),
    k AS (
      SELECT doc_id, lines,
             list_filter(lines, ln ->
               regexp_matches(trim(ln), '[.!?"'']$')
               AND len(string_split_regex(trim(ln), '\s+')) >= 3
               AND NOT contains(lower(trim(ln)), 'lorem ipsum')
               AND NOT contains(lower(trim(ln)), '{')) AS kept
      FROM t)
    -- coalesce: DuckDB's array_to_string([]) is NULL, Spark's is ''
    SELECT doc_id, coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
           CAST(len(lines) AS BIGINT) AS n_lines_total,
           CAST(len(kept) AS BIGINT) AS n_lines_kept
    FROM k
    """,
    description="C4-style line cleaning (operators/text.clean_lines): "
    "keep lines ending in terminal punctuation with >=3 words and no "
    "banned substrings, reassemble the document — realized entirely as "
    "higher-order array functions (split -> filter -> array_join) in "
    "one codegen'd projection: no explode, no shuffle, no Python.",
    refs=("§2.12", "F1", "F8"),
)
def q_clean_lines(spark, sf_dir):
    from lakeflow.operators.text import clean_lines

    d = load_table(spark, sf_dir, "documents")
    return clean_lines(d)


@query(
    "q_exact_k_sample",
    oracle=f"""
    SELECT doc_id, source, n_chars FROM documents
    ORDER BY {SQL_SEEDED_HASH.format(seed="smp", x="CAST(doc_id AS VARCHAR)")},
             doc_id
    LIMIT 50
    """,
    description="Exactly-k deterministic uniform sample "
    "(operators/sampling.exact_k_sample): the 50 rows with the "
    "smallest seeded content hash via orderBy(hash, key).limit(k) — "
    "TakeOrderedAndProject (per-partition size-k heaps), so the corpus "
    "is never globally sorted; the kept set is a function of the data, "
    "not the partitioning, and smaller k is a prefix of larger k "
    "(nested fixed-size eval probes).",
    refs=("§2.12", "D3", "D5"),
)
def q_exact_k_sample(spark, sf_dir):
    from lakeflow.operators.sampling import exact_k_sample

    d = load_table(spark, sf_dir, "documents")
    return exact_k_sample(d, "doc_id", 50).select("doc_id", "source", "n_chars")


@query(
    "q_pq_ann",
    # approximate-by-design: same recall-contract pattern as
    # q_lsh_ann / q_ivf_ann — Spark computes recall@5 of the PQ
    # shortlist+rerank path against exact L2 truth and emits a pass
    # boolean the oracle asserts
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_pass
    FROM embeddings WHERE vec_id < 10
    """,
    description="Product-quantization ANN serving (operators/pq.py): "
    "the benched row is the SEARCH against a prebuilt flat-PQ index "
    "(pq_fit persists the m=8 x 16-centroid sub-codebooks + the "
    "corpus codes once per corpus — the fit is its own "
    "build_pq_fit_sec bench line, exactly like the IVF-PQ split). "
    "ADC (CASE over folded centroids, stored codes only — no raw "
    "vectors) shortlists 200 candidates/query, exact L2 re-ranks the "
    "shortlist. The compressed-index scan + bounded-rerank shape that "
    "makes billion-vector search a narrow scan; recall@5 >= 0.6 "
    "contract vs exact truth (measured 0.94/0.92/0.78 at "
    "sf0.001/0.01/0.1 — the prebuilt index is bit-identical to the "
    "in-query fit, seeded exact-int k-means).",
    refs=("§2.12",),
)
def q_pq_ann(spark, sf_dir):
    from pyspark.sql import Window as W

    from lakeflow.operators.pq import pq_search
    from lakeflow.operators.similarity import _with_vectors, dot_long

    emb = load_table(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") < 10
    ann = pq_search(
        spark, emb, pred, _pq_index(spark, sf_dir), k=5, shortlist=200
    )
    # exact L2 truth (same broadcast brute-force shape as cosine topk)
    base = _with_vectors(emb, "vec_id", "embedding")
    q = (
        _with_vectors(emb.filter(pred), "vec_id", "embedding")
        .withColumnRenamed("vec_id", "q_id")
        .withColumnRenamed("__v", "__qv")
        .withColumnRenamed("__n2", "__qn2")
    )
    scored = base.join(F.broadcast(q), F.col("vec_id") != F.col("q_id")).select(
        "q_id",
        "vec_id",
        (
            F.col("__n2")
            + F.col("__qn2")
            - F.lit(2) * dot_long(F.col("__v"), F.col("__qv"))
        ).alias("d2"),
    )
    w = W.partitionBy("q_id").orderBy(F.asc("d2"), F.asc("vec_id"))
    exact = scored.withColumn("rnk", F.row_number().over(w)).filter("rnk <= 5")
    hits = ann.join(
        exact.select("q_id", "vec_id"), ["q_id", "vec_id"], "left_semi"
    )
    per_q = (
        exact.select("q_id")
        .distinct()
        .join(
            hits.groupBy("q_id").agg(F.count(F.lit(1)).alias("hits")),
            "q_id",
            "left",
        )
        .select("q_id", F.coalesce("hits", F.lit(0)).alias("hits"))
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (F.sum("hits") >= F.count(F.lit(1)) * F.lit(3)).alias("recall_pass"),
    )


def _corpus_cache_key(sf_dir: str, table: str = "embeddings") -> str:
    """Cache key for per-corpus prebuilt artifacts: md5 over the
    corpus path PLUS a content fingerprint (size + mtime of every file
    under the table's parquet path — the same signals Spark's own file
    index caches invalidate on). ADVICE r7: a path-only key silently
    serves a stale index when the corpus at that path is regenerated
    with different contents; stat-ing a handful of files per build is
    free next to the build."""
    import hashlib
    import os

    h = hashlib.md5(os.path.abspath(sf_dir).encode())
    t = os.path.join(sf_dir, f"{table}.parquet")
    paths = [t]
    if os.path.isdir(t):
        paths = [os.path.join(t, f) for f in sorted(os.listdir(t))]
    for p in paths:
        try:
            st = os.stat(p)
            h.update(f"|{os.path.basename(p)}:{st.st_size}:{st.st_mtime_ns}".encode())
        except OSError:
            h.update(f"|{os.path.basename(p)}:absent".encode())
    return h.hexdigest()[:16]


def _ivf_centroids(spark, sf_dir: str, n_cells: int = 16) -> list[list[int]]:
    """Build-once-per-corpus IVF seed centroids for q_ivf_ann (VERDICT
    r7 task #3 — the same fit/serve split as PQ and IVF-PQ, at
    centroid-list scale): the pick scan (a corpus-wide TakeOrdered
    carrying the vector payload) runs once per corpus and persists as
    a tiny JSON file under /tmp; every later call — the driver gate,
    all timed bench runs — folds the saved centroids straight into the
    plan, so the benched row is pure serving (zero build jobs).
    Deterministic contents (seeded-hash pick) + content-fingerprinted
    key; build/race/eviction contract in ``caching.prebuilt_state``."""
    import json

    from lakeflow.caching import prebuilt_state
    from lakeflow.operators.similarity import ivf_centroids

    key = _corpus_cache_key(sf_dir)

    def _build(tmp: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        with open(tmp, "w") as fh:
            json.dump(ivf_centroids(emb, n_cells), fh)

    path = prebuilt_state(f"/tmp/lakeflow_ivfcents_{key}_{n_cells}.json", _build)
    with open(path) as fh:
        return json.load(fh)


def _ivf_assignments(spark, sf_dir: str, n_cells: int = 16):
    """Build-once-per-corpus IVF (id, cell) assignment relation for
    q_ivf_ann — the SECOND build half beside :func:`_ivf_centroids`
    (r9, VERDICT r8 task #3): in a real inverted-file deployment the
    assignment IS the index, built once and appended per ingest batch
    (``similarity.ivf_assign``); re-deriving it per query re-scored
    the whole corpus against every centroid at serve time. Persisted
    as parquet under /tmp keyed by the corpus content fingerprint;
    deterministic contents (frozen centroids, exact integer argmax);
    build/race/eviction contract in ``caching.prebuilt_state``."""
    from lakeflow.caching import prebuilt_state
    from lakeflow.operators.similarity import ivf_assign

    key = _corpus_cache_key(sf_dir)

    def _build(tmp: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        cents = _ivf_centroids(spark, sf_dir, n_cells)
        ivf_assign(emb, cents).write.mode("overwrite").parquet(tmp)

    return read_parquet(
        spark,
        prebuilt_state(f"/tmp/lakeflow_ivfasg_{key}_{n_cells}", _build),
    )


def _pq_index(spark, sf_dir: str) -> str:
    """Build-once-per-corpus flat-PQ index for q_pq_ann (the pq_fit
    twin of :func:`_serving_index`): codebooks + codes persist under
    /tmp on first use; every later call — including all timed bench
    runs — loads the prebuilt index, so the benched row is pure
    serving. Deterministic contents (seeded exact-int k-means) and the
    key carries the corpus content fingerprint, so a stale directory
    can only be byte-equivalent; build/race/eviction contract in
    ``caching.prebuilt_state``."""
    from lakeflow.caching import prebuilt_state

    key = _corpus_cache_key(sf_dir)

    def _build(tmp: str) -> None:
        from lakeflow.operators.pq import pq_fit

        emb = load_table(spark, sf_dir, "embeddings")
        pq_fit(spark, emb, tmp, m=8, k_sub=16)

    return prebuilt_state(f"/tmp/lakeflow_pq_{key}", _build)


def _serving_index(spark, sf_dir: str) -> str:
    """Build-once-per-corpus IVF-PQ index for q_ann_serving: the fit
    (codebook + coarse k-means training, corpus encode) happens the
    first time a corpus is served and persists under /tmp; every later
    call — including all timed bench runs — loads the prebuilt index.
    Contents are deterministic (seeded exact-int k-means) and the key
    carries the corpus content fingerprint (:func:`_corpus_cache_key`),
    so a stale directory can only be byte-equivalent and safe to
    reuse. Build/race/eviction contract in
    ``caching.prebuilt_state``."""
    from lakeflow.caching import prebuilt_state

    key = _corpus_cache_key(sf_dir)

    def _build(tmp: str) -> None:
        from lakeflow.operators.pq import ivf_pq_fit

        emb = load_table(spark, sf_dir, "embeddings")
        ivf_pq_fit(spark, emb, tmp, m=8, k_sub=16, target_cell_size=128)

    return prebuilt_state(f"/tmp/lakeflow_ivfpq_{key}", _build)


@query(
    "q_ann_serving",
    # approximate-by-design: recall-contract pattern (see q_lsh_ann)
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_pass
    FROM embeddings WHERE vec_id < 10
    """,
    description="ANN SERVING against a prebuilt IVF-PQ index "
    "(operators/pq.ivf_pq_search): index build (codebook + coarse "
    "k-means fits, corpus encode) is a separate batch job "
    "(ivf_pq_fit) persisted as three tables — search loads the "
    "m*k_sub codebook rows and n_cells centroids (bounded collect), "
    "folds them into the plan, and runs cell probe x ADC over the "
    "persisted codes x exact rerank of the 200-row shortlist. This "
    "is the cost a query actually pays in production; q_ivf_pq_ann "
    "keeps measuring the composed build+search path. Same recall@5 "
    ">= 0.6 contract vs exact truth.",
    refs=("§2.12",),
)
def q_ann_serving(spark, sf_dir):
    from pyspark.sql import Window as W

    from lakeflow.operators.pq import ivf_pq_search
    from lakeflow.operators.similarity import _with_vectors, dot_long

    emb = load_table(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") < 10
    ann = ivf_pq_search(
        spark, emb, pred, _serving_index(spark, sf_dir),
        n_probe=8, k=5, shortlist=200,
    )
    base = _with_vectors(emb, "vec_id", "embedding")
    q = (
        _with_vectors(emb.filter(pred), "vec_id", "embedding")
        .withColumnRenamed("vec_id", "q_id")
        .withColumnRenamed("__v", "__qv")
        .withColumnRenamed("__n2", "__qn2")
    )
    scored = base.join(F.broadcast(q), F.col("vec_id") != F.col("q_id")).select(
        "q_id",
        "vec_id",
        (
            F.col("__n2")
            + F.col("__qn2")
            - F.lit(2) * dot_long(F.col("__v"), F.col("__qv"))
        ).alias("d2"),
    )
    w = W.partitionBy("q_id").orderBy(F.asc("d2"), F.asc("vec_id"))
    exact = scored.withColumn("rnk", F.row_number().over(w)).filter("rnk <= 5")
    hits = ann.join(
        exact.select("q_id", "vec_id"), ["q_id", "vec_id"], "left_semi"
    )
    per_q = (
        exact.select("q_id")
        .distinct()
        .join(
            hits.groupBy("q_id").agg(F.count(F.lit(1)).alias("hits")),
            "q_id",
            "left",
        )
        .select("q_id", F.coalesce("hits", F.lit(0)).alias("hits"))
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (F.sum("hits") >= F.count(F.lit(1)) * F.lit(3)).alias("recall_pass"),
    )


@query(
    "q_doc_surprisal",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    ex AS (
      SELECT doc_id, unnest(toks) AS tok FROM t),
    e2 AS (SELECT doc_id, tok FROM ex WHERE tok <> ''),
    uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM e2 GROUP BY tok),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM uni),
    sc AS (
      SELECT doc_id, CAST(length(bin(total // n)) AS BIGINT) AS bits
      FROM e2 JOIN uni USING (tok) CROSS JOIN tot)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(bits) AS BIGINT) AS surprisal_bits,
           (CAST(SUM(bits) AS BIGINT) * 1000) // COUNT(*)
             AS mean_surprisal_milli
    FROM sc GROUP BY doc_id
    """,
    description="Unigram corpus-LM surprisal "
    "(operators/corpus.surprisal_profile): per-token integer surprisal "
    "= bit_length(total div freq) (floor-log2 in whole bits — exact "
    "cross-engine, no float log ULP risk), per-doc sum and milli-mean "
    "— the KenLM-proxy quality signal that flags rare-token gibberish "
    "(high) and templated boilerplate (low). One token hash-agg, one "
    "equi-join (AQE splits the hot-token skew), 1-row broadcast total.",
    refs=("§2.12", "A5", "J2"),
)
def q_doc_surprisal(spark, sf_dir):
    from lakeflow.operators.corpus import surprisal_profile

    d = load_table(spark, sf_dir, "documents")
    return surprisal_profile(d)


@query(
    "q_dedup_survivors",
    oracle=f"""
    WITH RECURSIVE {_lsh_cand_cte()},
    e AS (SELECT da AS src, db AS dst FROM cand
          UNION SELECT db, da FROM cand),
    reach AS (
      SELECT src AS id, src AS r FROM e
      UNION
      SELECT e.src AS id, reach.r FROM e JOIN reach ON e.dst = reach.id),
    lbl AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
    {_quality_lang_cte().lstrip()},
    j AS (
      SELECT s1.doc_id, s1.source, s1.quality_micros, lbl.cluster_id
      FROM s1 LEFT JOIN lbl ON s1.doc_id = lbl.doc_id),
    ranked AS (
      SELECT doc_id, source, quality_micros,
             row_number() OVER (PARTITION BY cluster_id
               ORDER BY quality_micros DESC, doc_id ASC) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_merged
      FROM j WHERE cluster_id IS NOT NULL)
    SELECT doc_id, source, quality_micros, CAST(1 AS BIGINT) AS n_merged
    FROM j WHERE cluster_id IS NULL
    UNION ALL
    SELECT doc_id, source, quality_micros, n_merged
    FROM ranked WHERE rn = 1
    """,
    description="Deduplicated-corpus materialization "
    "(operators/clusters.dedup_survivors) — the last step of the "
    "near-dup funnel: LSH candidate pairs -> connected-component "
    "clusters -> keep the HIGHEST-QUALITY doc per cluster (ties to "
    "min id), singletons pass through a broadcastable left join "
    "without ever entering a window — only the pair-bounded clustered "
    "minority is ranked. Returns survivors with n_merged.",
    refs=("§2.12",),
)
def q_dedup_survivors(spark, sf_dir):
    from lakeflow.operators.clusters import dedup_survivors
    from lakeflow.operators.text import quality_score

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "source",
        F.floor(quality_score("text") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("quality_micros"),
    )
    sig = minhash_signatures(d, "doc_id", "text", k=8)
    cand = lsh_candidate_pairs(sig, "doc_id", k=8, band_size=2)
    return dedup_survivors(scored, cand, "doc_id", "quality_micros")


@query(
    "q_ivf_pq_ann",
    # approximate-by-design: recall-contract pattern (see q_lsh_ann)
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_pass
    FROM embeddings WHERE vec_id < 10
    """,
    description="IVF-PQ composed ANN (operators/pq.ivf_pq_topk): a "
    "coarse k-means partitions the corpus into corpus-derived cells "
    "(n_cells = ceil(N/128), the semantic-dedup sizing rule — cell "
    "population stays ~constant so a FIXED n_probe=8 probes a "
    "SHRINKING fraction of the index as data grows, ~n_probe*128 "
    "candidate rows per query regardless of corpus size), each query "
    "probes its 8 nearest cells via an exact integer argsort, ADC "
    "over the PQ codes runs ONLY within probed cells, exact L2 "
    "re-ranks the 200-row shortlist — both prunings compose: the "
    "cell probe cuts the candidate population, the codes cut what a "
    "candidate costs; full-precision vectors are read only for the "
    "shortlist. Per-query top-k is the bounded two-phase heap merge "
    "(operators/topk.py), never a per-q_id window over the full "
    "scored relation. The billion-vector FAISS serving shape; "
    "recall@5 >= 0.6 contract vs exact truth.",
    refs=("§2.12",),
)
def q_ivf_pq_ann(spark, sf_dir):
    from pyspark.sql import Window as W

    from lakeflow.operators.kmeans import derive_k
    from lakeflow.operators.pq import (
        _collect_train,
        coarse_centroids_driver,
        ivf_pq_topk,
        pq_codebooks_driver,
    )
    from lakeflow.operators.similarity import _with_vectors, dot_long

    emb = load_table(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") < 10
    # both fits train driver-side on one bounded hash-sample collect
    # (identical to the distributed trainers while the corpus fits the
    # sample — the ivf_pq_fit design); the corpus-sized passes are the
    # count, the encode projection, and the probed-cell ADC scan
    n = emb.count()
    rows = _collect_train(emb, "vec_id", "embedding", 16_384, "ivf", n=n)
    books = pq_codebooks_driver(rows, m=8, k_sub=16, n_iter=2, dim=64)
    n_cells = derive_k(n, 128, k_min=max(2, 8))
    coarse = coarse_centroids_driver(rows, k=n_cells, n_iter=2, seed="ivf")
    ann = ivf_pq_topk(
        emb, pred, books, n_cells=n_cells, n_probe=8, k=5, shortlist=200,
        coarse=coarse,
    )
    base = _with_vectors(emb, "vec_id", "embedding")
    q = (
        _with_vectors(emb.filter(pred), "vec_id", "embedding")
        .withColumnRenamed("vec_id", "q_id")
        .withColumnRenamed("__v", "__qv")
        .withColumnRenamed("__n2", "__qn2")
    )
    scored = base.join(F.broadcast(q), F.col("vec_id") != F.col("q_id")).select(
        "q_id",
        "vec_id",
        (
            F.col("__n2")
            + F.col("__qn2")
            - F.lit(2) * dot_long(F.col("__v"), F.col("__qv"))
        ).alias("d2"),
    )
    w = W.partitionBy("q_id").orderBy(F.asc("d2"), F.asc("vec_id"))
    exact = scored.withColumn("rnk", F.row_number().over(w)).filter("rnk <= 5")
    hits = ann.join(
        exact.select("q_id", "vec_id"), ["q_id", "vec_id"], "left_semi"
    )
    per_q = (
        exact.select("q_id")
        .distinct()
        .join(
            hits.groupBy("q_id").agg(F.count(F.lit(1)).alias("hits")),
            "q_id",
            "left",
        )
        .select("q_id", F.coalesce("hits", F.lit(0)).alias("hits"))
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (F.sum("hits") >= F.count(F.lit(1)) * F.lit(3)).alias("recall_pass"),
    )


@query(
    "q_repeated_spans",
    oracle="""
    WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
               FROM documents),
    g AS (
      SELECT doc_id, CAST(u.i AS INT) AS pos,
             (('0x' || substr(md5('span|' || array_to_string(toks[(u.i+1):(u.i+8)], ' ')), 1, 15))::BIGINT) AS h
      FROM t, unnest(range(0, greatest(len(toks)-8+1, 0))) AS u(i)),
    d AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
    s AS (SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM d)),
    p AS (SELECT doc_id, list_sort(list(pos)) AS ps FROM s GROUP BY doc_id),
    o AS (
      SELECT t.doc_id,
             CAST(len(t.toks) AS BIGINT) AS n_tokens,
             CAST(coalesce(len(p.ps), 0) AS BIGINT) AS n_dup_starts,
             list_filter(range(0, len(t.toks)),
                         i -> len(list_filter(coalesce(p.ps, []),
                                              q -> q <= i AND i < q + 8)) = 0) AS kept,
             t.toks AS toks
      FROM t LEFT JOIN p ON t.doc_id = p.doc_id)
    SELECT doc_id, n_tokens, n_dup_starts,
           CAST(n_tokens - len(kept) AS BIGINT) AS n_excised,
           md5(coalesce(array_to_string(list_transform(kept, i -> toks[CAST(i AS INT)+1]), ' '), '')) AS clean_fp
    FROM o
    """,
    description="Repeated-substring excision (operators/text."
    "excise_repeated_spans; Lee et al. 2022 ExactSubstr at fixed span "
    "length): every 8-token span whose content occurs >= 2 times in "
    "the corpus (intra-doc repeats count) is cut from every document; "
    "overlapping duplicated spans merge naturally because a token "
    "survives only if NO duplicated span covers it. Spark shape: "
    "tokenize -> posexplode n-grams -> 60-bit seeded-hash shuffle key "
    "-> ONE partial-combined count aggregate -> left-semi mark -> "
    "per-doc start-list collect -> narrow higher-order-array excision "
    "projection (no Python, no text on the shuffle). The paper's "
    "suffix array is single-machine; fixed-n gram counting is its "
    "distributed approximation (longer duplicates appear as runs of "
    "overlapping duplicated n-grams and excise identically).",
    refs=("§2.12",),
)
def q_repeated_spans(spark, sf_dir):
    from lakeflow.operators.text import excise_repeated_spans

    d = load_table(spark, sf_dir, "documents")
    out = excise_repeated_spans(d, "doc_id", "text", n=8, min_count=2)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_dup_starts",
        "n_excised",
        F.md5("clean_text").alias("clean_fp"),
    )


_PR_ORACLE = f"""
    WITH s AS (
      SELECT doc_id,
             CAST(FLOOR((
               0.4e0 * least(CAST(len({_SQL_TOKS}) AS DOUBLE) / 100e0, 1e0)
               + 0.3e0 * (1e0 - ((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) / CAST(greatest(length(text), 1) AS DOUBLE)))
               + 0.3e0 * least((CAST({_sql_hits(STOPWORDS)} AS DOUBLE) / CAST(greatest(len({_SQL_TOKS}), 1) AS DOUBLE)) * 5e0, 1e0)
             ) * 1000000e0 + 0.5e0) AS BIGINT) AS quality_micros
      FROM documents),
    c AS (SELECT quality_micros, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM s GROUP BY quality_micros),
    cdf AS (SELECT quality_micros,
                   CAST(COALESCE(SUM(cnt) OVER (ORDER BY quality_micros NULLS FIRST
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below
            FROM c),
    t AS (SELECT GREATEST(COUNT(*) - 1, 1) AS denom FROM s)
    SELECT s.doc_id, s.quality_micros,
           CAST((cdf.below * 2000000 + t.denom) // (2 * t.denom) AS BIGINT) AS pr_micros
    FROM s JOIN cdf ON s.quality_micros IS NOT DISTINCT FROM cdf.quality_micros
    CROSS JOIN t
"""


@query(
    "q_percent_rank",
    oracle=_PR_ORACLE,
    description="Exact per-document percentile rank of the quality "
    "score via the histogram-CDF shape (operators/corpus."
    "exact_percent_rank): percent_rank() OVER (ORDER BY v) funnels the "
    "whole corpus through one task's sorter — instead, ONE "
    "partial-combined count per DISTINCT VALUE, a running-sum window "
    "whose input is bounded by the VALUE DOMAIN (micro-ints, <= 1e6+1 "
    "rows) not the corpus, and a broadcast equi-join back. Integer "
    "round-half-up, bit-identical to the SQL window definition "
    "(ties share the rank).",
    refs=("§2.12", "§2.9", "A5"),
)
def q_percent_rank(spark, sf_dir):
    from lakeflow.operators.corpus import exact_percent_rank
    from lakeflow.operators.text import quality_score

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        F.floor(quality_score("text") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("quality_micros"),
    )
    return exact_percent_rank(scored, "quality_micros").select(
        "doc_id", "quality_micros", "pr_micros"
    )


@query(
    "q_paragraph_dedup",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, chr(10)) AS ps FROM documents),
    ex AS (SELECT doc_id, CAST(u.i AS INT) AS pos, ps[CAST(u.i AS INT)+1] AS para
           FROM d, unnest(range(0, len(ps))) AS u(i)),
    h AS (SELECT doc_id, pos, para,
                 doc_id * 100000 + pos AS k,
                 CASE WHEN trim(para) <> ''
                      THEN (('0x' || substr(md5('para|' || trim(para)), 1, 15))::BIGINT)
                 END AS hh
          FROM ex),
    w AS (SELECT hh, MIN(k) AS wk FROM h WHERE hh IS NOT NULL GROUP BY hh),
    m AS (SELECT h.doc_id, h.pos, h.para,
                 (h.hh IS NULL OR h.k = w.wk) AS keep
          FROM h LEFT JOIN w ON h.hh = w.hh)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
           md5(coalesce(array_to_string(
             list_transform(
               list_sort(list(struct_pack(p := pos, t := para)) FILTER (WHERE keep)),
               x -> x.t),
             chr(10)), '')) AS clean_fp
    FROM m GROUP BY doc_id
    """,
    description="Corpus-global paragraph dedup (operators/text."
    "dedup_paragraphs; the Dolma/FineWeb pass between document dedup "
    "and span excision): every paragraph whose trimmed content occurs "
    "more than once ACROSS the corpus keeps only its first occurrence "
    "by (doc_id, position); blanks preserve layout. Spark shape: "
    "posexplode paragraphs -> 60-bit content hash -> ONE min-key "
    "aggregate (map-side combined) -> equi-join winner mark -> per-doc "
    "reassembly via sort_array(collect_list(struct)). Text rides only "
    "the explode and the per-doc collect, never a corpus sort.",
    refs=("§2.12",),
)
def q_paragraph_dedup(spark, sf_dir):
    from lakeflow.operators.text import dedup_paragraphs

    d = load_table(spark, sf_dir, "documents")
    out = dedup_paragraphs(d, "doc_id", "text")
    return out.select(
        "doc_id",
        "n_paragraphs",
        "n_dropped",
        F.md5("clean_text").alias("clean_fp"),
    )


@query(
    "q_expectations",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_custkey IS NOT NULL
                          AND o_totalprice > 0
                          AND o_orderstatus IN ('O', 'F', 'P')
                          AND o_orderdate >= TIMESTAMP '1990-01-01'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS viol_custkey_present,
           CAST(SUM(CASE WHEN NOT coalesce(o_totalprice > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS viol_price_positive,
           CAST(SUM(CASE WHEN NOT coalesce(o_orderstatus IN ('O', 'F', 'P'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS viol_status_known,
           CAST(SUM(CASE WHEN NOT coalesce(o_orderdate >= TIMESTAMP '1990-01-01', FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS viol_date_sane
    FROM orders
    """,
    description="Declarative data-quality expectations (operators/"
    "expectations.py, the DLT expect/expect_or_drop shape the "
    "reference lacked entirely — malformed rows rode straight into "
    "the warehouse): rules are boolean Columns evaluated in ONE "
    "conditional hash-aggregate over a single scan (per-rule "
    "violation counts + clean-row count); the companion "
    "split_expectations routes violators to a quarantine relation "
    "with their failed-rule names from the same one-projection "
    "annotated plan.",
    refs=("A5", "§2.3"),
)
def q_expectations(spark, sf_dir):
    from lakeflow.operators.expectations import expectation_report

    o = load_table(spark, sf_dir, "orders")
    rules = {
        "custkey_present": F.col("o_custkey").isNotNull(),
        "price_positive": F.col("o_totalprice") > 0,
        "status_known": F.col("o_orderstatus").isin("O", "F", "P"),
        "date_sane": F.col("o_orderdate") >= F.lit("1990-01-01").cast("timestamp"),
    }
    return expectation_report(o, rules)


@query(
    "q_resample_locf",
    oracle="""
    WITH obs AS (
      SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
             MAX(CAST(FLOOR(value * 100e0 + 0.5e0) AS BIGINT)) AS v
      FROM events GROUP BY user_id, CAST(FLOOR(epoch(ts)) AS BIGINT)),
    b AS (SELECT user_id,
                 CAST(FLOOR(MIN(t) / 86400) * 86400 AS BIGINT) AS g0,
                 MAX(t) AS g1
          FROM obs GROUP BY user_id),
    g AS (SELECT user_id, CAST(u.t AS BIGINT) AS t
          FROM b, unnest(range(g0, g1 + 1, 86400)) AS u(t))
    SELECT g.user_id, make_timestamp(g.t * 1000000) AS grid_ts, o.v AS val
    FROM g ASOF LEFT JOIN obs o ON g.user_id = o.user_id AND g.t >= o.t
    """,
    description="Hypertable-style resample + gap fill (operators/"
    "timeseries.resample_locf, the time_bucket_gapfill/LOCF primitive): "
    "per-user daily grid from the floor-aligned first observation "
    "through the last, each instant carrying the last observation "
    "at-or-before it. Spark shape: 1-row-per-key bounds aggregate -> "
    "narrow sequence+explode grid -> union with tagged observations -> "
    "ONE per-key ordered window with last(ignorenulls) carries every "
    "observation to all later grid instants in a single pass (vs an "
    "as-of join per grid point); the oracle is DuckDB's native ASOF "
    "LEFT JOIN, so two entirely different physical strategies must "
    "agree bit-for-bit. Exact integer epoch/cents arithmetic.",
    refs=("J4", "§2.9", "§2.12"),
)
def q_resample_locf(spark, sf_dir):
    from lakeflow.operators.timeseries import resample_locf

    ev = load_table(spark, sf_dir, "events")
    cents = ev.select(
        "user_id",
        "ts",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    return resample_locf(cents, "user_id", "ts", "cents", 86_400)


@query(
    "q_resample_interp",
    oracle="""
    WITH obs AS (
      SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
             MAX(CAST(FLOOR(value * 100e0 + 0.5e0) AS BIGINT)) AS v
      FROM events GROUP BY user_id, CAST(FLOOR(epoch(ts)) AS BIGINT)),
    b AS (SELECT user_id,
                 CAST(FLOOR(MIN(t) / 86400) * 86400 AS BIGINT) AS g0,
                 MAX(t) AS g1
          FROM obs GROUP BY user_id),
    g AS (SELECT user_id, CAST(u.t AS BIGINT) AS t
          FROM b, unnest(range(g0, g1 + 1, 86400)) AS u(t)),
    obs_n AS (SELECT user_id, -t AS nt, t, v FROM obs),
    p AS (SELECT g.user_id, g.t, o.t AS t0, o.v AS v0
          FROM g ASOF LEFT JOIN obs o
            ON g.user_id = o.user_id AND g.t >= o.t),
    n AS (SELECT g.user_id, g.t, o.t AS t1, o.v AS v1
          FROM g ASOF LEFT JOIN obs_n o
            ON g.user_id = o.user_id AND -g.t >= o.nt)
    SELECT p.user_id, make_timestamp(p.t * 1000000) AS grid_ts,
           CASE WHEN p.t0 = p.t THEN p.v0
                WHEN p.v0 IS NULL OR n.v1 IS NULL THEN NULL
                ELSE p.v0 + CAST(TRUNC(CAST((n.v1 - p.v0) * (p.t - p.t0) AS DOUBLE)
                                       / (n.t1 - p.t0)) AS BIGINT)
           END AS val
    FROM p JOIN n ON p.user_id = n.user_id AND p.t = n.t
    """,
    description="Linear-interpolation resampling (operators/timeseries."
    "resample_interpolate, the interpolate() companion to LOCF): each "
    "daily grid instant gets trunc-integer straight-line value between "
    "its surrounding observations; instants on an observation take it "
    "exactly; nothing extrapolates past the observed range. One "
    "union+two-direction-window pass per key vs the oracle's TWO "
    "native DuckDB ASOF joins (backward + direction-reversed forward) "
    "— different physical strategies, bit-identical integer results.",
    refs=("J4", "§2.9", "§2.12"),
)
def q_resample_interp(spark, sf_dir):
    from lakeflow.operators.timeseries import resample_interpolate

    ev = load_table(spark, sf_dir, "events")
    cents = ev.select(
        "user_id",
        "ts",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    return resample_interpolate(cents, "user_id", "ts", "cents", 86_400)


@query(
    "q_image_dims",
    oracle="""
    SELECT doc_id AS id,
           CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'gif' END AS format,
           CAST(1 + doc_id % 512 AS BIGINT) AS width,
           CAST(1 + n_chars % 512 AS BIGINT) AS height
    FROM documents
    """,
    description="Image metadata via PURE JVM built-ins (operators/"
    "multimodal.image_dims): PNG/GIF dimensions live at fixed header "
    "offsets, so width/height parse as binary substring + hex + conv "
    "inside whole-stage codegen — 100 TB of images never cross the "
    "Arrow boundary to be sized (JPEG's variable-offset marker scan "
    "is the separate library-free jpeg_dims mapInPandas, "
    "golden-byte-tested). The query synthesizes valid PNG headers "
    "from doc fields with binary concat built-ins and parses them "
    "back; the oracle recomputes the embedded dims arithmetically, so "
    "a construct/parse asymmetry anywhere fails the hash compare.",
    refs=("§2.12",),
)
def q_image_dims(spark, sf_dir):
    from lakeflow.operators.multimodal import image_dims

    d = load_table(spark, sf_dir, "documents")
    w = (F.lit(1) + F.col("doc_id") % 512).cast("long")
    h = (F.lit(1) + F.col("n_chars") % 512).cast("long")
    png = F.concat(
        F.lit(bytes.fromhex("89504E470D0A1A0A")),  # PNG signature
        F.lit(bytes.fromhex("0000000D")),  # IHDR length
        F.lit(b"IHDR"),
        F.unhex(F.lpad(F.hex(w), 8, "0")),  # width, 4-byte big-endian
        F.unhex(F.lpad(F.hex(h), 8, "0")),  # height
    )

    # GIF logical screen descriptor: 2-byte LITTLE-endian dims — the
    # opposite byte order from PNG, so the round trip catches an
    # endianness asymmetry on either side
    gif = F.concat(
        F.lit(b"GIF89a"),
        F.unhex(F.lpad(F.hex(w % 256), 2, "0")),
        F.unhex(F.lpad(F.hex(F.floor(w / 256).cast("long")), 2, "0")),
        F.unhex(F.lpad(F.hex(h % 256), 2, "0")),
        F.unhex(F.lpad(F.hex(F.floor(h / 256).cast("long")), 2, "0")),
    )
    payload = F.when(F.col("doc_id") % 2 == 0, png).otherwise(gif)
    synth = d.select(F.col("doc_id").alias("id"), payload.alias("payload"))
    return image_dims(synth)


@query(
    "q_wav_meta",
    oracle="""
    SELECT doc_id AS id, 'wav' AS format,
           CAST(1 + doc_id % 8 AS BIGINT) AS n_channels,
           CAST(8000 + (n_chars % 8) * 4000 AS BIGINT) AS sample_rate,
           CAST(8 * (1 + doc_id % 4) AS BIGINT) AS bits_per_sample
    FROM documents
    """,
    description="Audio metadata via PURE JVM built-ins (operators/"
    "multimodal.wav_meta): the canonical RIFF/WAVE layout holds "
    "channels/sample-rate/bits at fixed little-endian offsets, so they "
    "parse as binary substring + hex + conv in whole-stage codegen — "
    "no audio library, no Python, payloads never shuffled. The query "
    "synthesizes valid canonical WAV headers from doc fields "
    "(little-endian byte construction with unhex/lpad built-ins) and "
    "parses them back; the oracle recomputes the embedded fields "
    "arithmetically, so any construct/parse endianness asymmetry "
    "fails the hash compare.",
    refs=("§2.12",),
)
def q_wav_meta(spark, sf_dir):
    from lakeflow.operators.multimodal import wav_meta

    d = load_table(spark, sf_dir, "documents")

    def le(col, nbytes):
        return F.concat(
            *[
                F.unhex(
                    F.lpad(F.hex(F.expr(f"({col}) div {256 ** i} % 256")), 2, "0")
                )
                for i in range(nbytes)
            ]
        )

    payload = F.concat(
        F.lit(b"RIFF"),
        F.lit(bytes(4)),  # RIFF size: not read by the parser
        F.lit(b"WAVEfmt "),
        F.lit((16).to_bytes(4, "little")),  # fmt chunk size
        F.lit((1).to_bytes(2, "little")),  # PCM
        le("1 + doc_id % 8", 2),  # channels
        le("8000 + (n_chars % 8) * 4000", 4),  # sample rate
        F.lit(bytes(6)),  # byte rate + block align: not read
        le("8 * (1 + doc_id % 4)", 2),  # bits per sample
    )
    synth = d.select(F.col("doc_id").alias("id"), payload.alias("payload"))
    return wav_meta(synth)


_BIGRAM_ORACLE = f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    e AS (SELECT doc_id,
                 toks[CAST(u.i AS INT)+1] AS cur,
                 CASE WHEN u.i > 0 AND toks[CAST(u.i AS INT)] <> ''
                      THEN toks[CAST(u.i AS INT)] END AS prev
          FROM t, unnest(range(0, len(toks))) AS u(i)),
    e2 AS (SELECT * FROM e WHERE cur <> ''),
    uni AS (SELECT cur, CAST(COUNT(*) AS BIGINT) AS cn FROM e2 GROUP BY cur),
    tot AS (SELECT CAST(SUM(cn) AS BIGINT) AS total FROM uni),
    bi AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS bn
           FROM e2 WHERE prev IS NOT NULL GROUP BY prev, cur
           HAVING COUNT(*) >= 2),
    sc AS (
      SELECT e2.doc_id,
             CAST(length(bin(CASE
               WHEN e2.prev IS NULL THEN tot.total // uni.cn
               WHEN bi.bn IS NOT NULL THEN pu.cn // bi.bn
               ELSE (tot.total * 5) // (2 * uni.cn) END)) AS BIGINT) AS bits
      FROM e2
      JOIN uni ON e2.cur = uni.cur
      LEFT JOIN uni pu ON e2.prev = pu.cur
      LEFT JOIN bi ON e2.prev = bi.prev AND e2.cur = bi.cur
      CROSS JOIN tot)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(bits) AS BIGINT) AS surprisal_bits,
           CAST((SUM(bits) * 1000) // COUNT(*) AS BIGINT) AS mean_surprisal_milli
    FROM sc GROUP BY doc_id
"""


@query(
    "q_bigram_surprisal",
    oracle=_BIGRAM_ORACLE,
    description="Bigram corpus-LM surprisal with stupid backoff "
    "(operators/corpus.bigram_surprisal_profile; Brants et al. 2007): "
    "each position scores bit_length(C(prev) div C(prev,w)) when the "
    "bigram count clears the noise floor (>= 2 — self-scoring means "
    "every occurrence contributes its own count, so a threshold of 1 "
    "would make backoff unreachable), else the 0.4-weighted unigram "
    "backoff folded "
    "into integer division (total*5 div 2*C(w)); first tokens score "
    "unigram. Catches common-WORDS/impossible-SEQUENCES word salad "
    "that fools the unigram proxy. Bigrams come from one narrow array "
    "transform (no positional self-join); counts are two map-side-"
    "combined hash-aggregates; lookups are equi-joins AQE skew-splits; "
    "pure-integer whole-bit surprisal, no floating log.",
    refs=("§2.12",),
)
def q_bigram_surprisal(spark, sf_dir):
    from lakeflow.operators.corpus import bigram_surprisal_profile

    d = load_table(spark, sf_dir, "documents")
    return bigram_surprisal_profile(d, "doc_id", "text")


_GPR_ORACLE = f"""
    WITH s AS (
      SELECT doc_id, source,
             CAST(FLOOR((
               0.4e0 * least(CAST(len({_SQL_TOKS}) AS DOUBLE) / 100e0, 1e0)
               + 0.3e0 * (1e0 - ((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) / CAST(greatest(length(text), 1) AS DOUBLE)))
               + 0.3e0 * least((CAST({_sql_hits(STOPWORDS)} AS DOUBLE) / CAST(greatest(len({_SQL_TOKS}), 1) AS DOUBLE)) * 5e0, 1e0)
             ) * 1000000e0 + 0.5e0) AS BIGINT) AS quality_micros
      FROM documents),
    c AS (SELECT source, quality_micros, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM s GROUP BY source, quality_micros),
    cdf AS (SELECT source, quality_micros,
                   CAST(COALESCE(SUM(cnt) OVER (PARTITION BY source
                        ORDER BY quality_micros NULLS FIRST
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below
            FROM c),
    t AS (SELECT source, GREATEST(COUNT(*) - 1, 1) AS denom
          FROM s GROUP BY source)
    SELECT s.doc_id, s.source, s.quality_micros,
           CAST((cdf.below * 2000000 + t.denom) // (2 * t.denom) AS BIGINT) AS pr_micros
    FROM s
    JOIN cdf ON s.source IS NOT DISTINCT FROM cdf.source
            AND s.quality_micros IS NOT DISTINCT FROM cdf.quality_micros
    JOIN t ON s.source IS NOT DISTINCT FROM t.source
"""


@query(
    "q_domain_percent_rank",
    oracle=_GPR_ORACLE,
    description="Per-domain quality calibration (operators/corpus."
    "grouped_percent_rank, the FineWeb-style per-dump normalization): "
    "each document's quality score ranks against ITS OWN source's "
    "distribution — raw scores are not comparable across domains, so "
    "mixture sampling consumes the calibrated rank instead. Same "
    "histogram-CDF shape as q_percent_rank with every stage keyed by "
    "the group: the running-sum window's input is each group's "
    "DISTINCT VALUES, never its rows; null-safe joins; exact integer "
    "round-half-up.",
    refs=("§2.12", "§2.9", "A5"),
)
def q_domain_percent_rank(spark, sf_dir):
    from lakeflow.operators.corpus import grouped_percent_rank
    from lakeflow.operators.text import quality_score

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "source",
        F.floor(quality_score("text") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("quality_micros"),
    )
    return grouped_percent_rank(scored, "source", "quality_micros").select(
        "doc_id", "source", "quality_micros", "pr_micros"
    )


_GOPHER_ORACLE = f"""
    WITH t AS (
      SELECT doc_id,
             {_SQL_TOKS} AS toks,
             string_split(text, chr(10)) AS lines
      FROM documents),
    s AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_len,
             CAST(greatest(len(lines), 1) AS BIGINT) AS n_lines,
             CAST(len(list_filter(lines, ln -> regexp_matches(trim(ln), '^[-*•]'))) AS BIGINT) AS n_bullet,
             CAST(len(list_filter(lines, ln -> regexp_matches(trim(ln), '(\\.\\.\\.|…)$'))) AS BIGINT) AS n_ellipsis,
             CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
             CAST(len(list_intersect(list_transform(toks, x -> lower(x)),
                  ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_distinct
      FROM t),
    m AS (
      SELECT doc_id, n_words,
             CAST(FLOOR(sum_len / CAST(greatest(n_words, 1) AS DOUBLE) * 1000000e0 + 0.5e0) AS BIGINT) AS mean_word_len_micros,
             CAST(FLOOR(n_bullet / CAST(n_lines AS DOUBLE) * 1000000e0 + 0.5e0) AS BIGINT) AS bullet_micros,
             CAST(FLOOR(n_ellipsis / CAST(n_lines AS DOUBLE) * 1000000e0 + 0.5e0) AS BIGINT) AS ellipsis_micros,
             CAST(FLOOR(n_alpha / CAST(greatest(n_words, 1) AS DOUBLE) * 1000000e0 + 0.5e0) AS BIGINT) AS alpha_micros,
             stop_distinct
      FROM s)
    SELECT doc_id, n_words, mean_word_len_micros, bullet_micros,
           ellipsis_micros, alpha_micros, stop_distinct,
           (n_words BETWEEN 20 AND 100000
            AND mean_word_len_micros BETWEEN 3000000 AND 10000000
            AND bullet_micros <= 900000
            AND ellipsis_micros <= 300000
            AND alpha_micros >= 800000
            AND stop_distinct >= 1) AS passes_gopher
    FROM m
"""


@query(
    "q_gopher_rules",
    oracle=_GOPHER_ORACLE,
    description="The Gopher quality-rule scorecard (operators/text."
    "gopher_rules; Rae et al. 2021 appendix A — the filter pack every "
    "later pretraining pipeline reuses): word count in [50, 100k], "
    "mean word length in [3, 10] chars, <=90% bullet-started lines, "
    "<=30% ellipsis-ended lines, >=80% words containing a letter, "
    ">=2 distinct common English words — per-doc signals plus the "
    "pass verdict (this query relaxes min_words to 20 and the "
    "common-word floor to 1 because the synthetic docs are short "
    "small-vocabulary word soup; the operator defaults stay the "
    "paper's). Every signal is higher-order array functions over "
    "ONE projection of the scan (no explode, no shuffle, no Python); "
    "exact micro-int fractions hash-match the DuckDB list-lambda "
    "oracle.",
    refs=("§2.12",),
)
def q_gopher_rules(spark, sf_dir):
    from lakeflow.operators.text import gopher_rules

    d = load_table(spark, sf_dir, "documents")
    return gopher_rules(d, "doc_id", "text", min_words=20, min_stop_hits=1)


_PAGERANK_EDGES_SQL = """
    SELECT 2 * o.o_custkey AS src, 2 * l.l_suppkey + 1 AS dst,
           CAST(COUNT(*) AS BIGINT) AS weight
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    UNION ALL
    SELECT 2 * l.l_suppkey + 1 AS src, 2 * o.o_custkey AS dst,
           CAST(COUNT(*) AS BIGINT) AS weight
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
"""


def _pagerank_oracle() -> str:
    from lakeflow.operators.graph import sql_pagerank

    return (
        "WITH "
        + sql_pagerank(_PAGERANK_EDGES_SQL, iters=3)
        + """
    SELECT node, rank_micros FROM pr_final
    ORDER BY rank_micros DESC, node ASC LIMIT 20
    """
    )


@query(
    "q_pagerank",
    oracle=_pagerank_oracle(),
    description="Fixed-iteration weighted PageRank (operators/graph.py) "
    "over the customer-supplier interaction graph (edges = lineitem x "
    "orders trade counts, both directions; node = 2*custkey / "
    "2*suppkey+1): three rounds of join+hash-aggregate in exact "
    "micro-int arithmetic, then the global top-20 authorities via "
    "orderBy().limit() TakeOrdered. This is the link-authority primitive "
    "web-corpus curation keeps per host (C4/RefinedWeb lineage) and the "
    "survivor-importance score for dup clusters. At 100 TB: the "
    "edge+out-weight relation is built once and persisted, each round "
    "shuffles on the node key only (AQE splits hub-skewed dsts), and "
    "the oracle replays the IDENTICAL unrolled integer computation as "
    "chained SQL CTEs — no float drift across engines or iteration "
    "counts.",
    refs=("§2.12", "J2", "A5"),
)
def q_pagerank(spark, sf_dir):
    from lakeflow.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        (2 * F.col("o_custkey")).alias("cust_node"),
        (2 * F.col("l_suppkey") + 1).alias("supp_node"),
    )
    counts = pairs.groupBy("cust_node", "supp_node").agg(
        F.count(F.lit(1)).alias("weight")
    )
    edges = counts.select(
        F.col("cust_node").alias("src"), F.col("supp_node").alias("dst"), "weight"
    ).unionByName(
        counts.select(
            F.col("supp_node").alias("src"),
            F.col("cust_node").alias("dst"),
            "weight",
        )
    )
    pr = pagerank(edges, iters=3)
    return pr.orderBy(F.desc("rank_micros"), F.asc("node")).limit(20)


@query(
    "q_stratified_sample",
    oracle=f"""
    SELECT doc_id, source, n_chars FROM (
      SELECT doc_id, source, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {SQL_SEEDED_HASH.format(seed="smp", x="CAST(doc_id AS VARCHAR)")},
                        doc_id) AS rn
      FROM documents) WHERE rn <= 10
    """,
    description="Exactly-k-per-stratum deterministic sample "
    "(operators/sampling.stratified_exact_k): 10 documents per source "
    "by smallest seeded hash — balanced eval-set construction. NOT a "
    "per-group window over the corpus: winners come from the two-phase "
    "bounded per-key top-k (per-partition size-k heaps, then a rank "
    "over <= partitions x k rows per group) and full rows return via a "
    "broadcast semi join on the <= groups x k winner set. "
    "Deterministic in the data, nested across k, partitioning-"
    "invariant; the oracle is the equivalent single-window SQL.",
    refs=("§2.12", "D3"),
)
def q_stratified_sample(spark, sf_dir):
    from lakeflow.operators.sampling import stratified_exact_k

    d = load_table(spark, sf_dir, "documents")
    return stratified_exact_k(d, "source", "doc_id", 10).select(
        "doc_id", "source", "n_chars"
    )


@query(
    "q_keyword_search",
    oracle=r"""
    SELECT doc_id, CAST(tf_spark + tf_join + tf_merge AS BIGINT) AS total_tf
    FROM (
      SELECT doc_id,
        len(list_filter(regexp_split_to_array(lower(text), '\s+'),
            x -> x = 'spark')) AS tf_spark,
        len(list_filter(regexp_split_to_array(lower(text), '\s+'),
            x -> x = 'join')) AS tf_join,
        len(list_filter(regexp_split_to_array(lower(text), '\s+'),
            x -> x = 'merge')) AS tf_merge
      FROM documents)
    WHERE tf_spark > 0 AND tf_join > 0 AND tf_merge > 0
    """,
    description="Inverted-index conjunctive keyword search "
    "(operators/index.py): the posting-list relation (token, doc_id, "
    "tf) is built by one explode + hash aggregate, and the AND query "
    "['spark','join','merge'] filters the index with a pushed-down "
    "IN-list, then keeps doc_ids whose distinct-term count equals the "
    "term count — intersection as ONE aggregate over the queried "
    "postings, no self-joins, cost proportional to those posting lists "
    "rather than the corpus. At 100 TB the index persists bucketed BY "
    "TOKEN (save_bucketed_table) so each term lookup is a pruned scan; "
    "every curation slice ('all docs mentioning X and Y') then skips "
    "the full-corpus grep. Oracle recomputes membership per document "
    "with identical \\s+ tokenization.",
    refs=("§2.12", "N7", "A5"),
)
def q_keyword_search(spark, sf_dir):
    from lakeflow.operators.index import build_inverted_index, keyword_search_all

    d = load_table(spark, sf_dir, "documents")
    idx = build_inverted_index(d)
    return keyword_search_all(idx, ["spark", "join", "merge"])


#: BM25 per-doc score CTE chain (terms spark/join/merge), shared by
#: the BM25 query and the hybrid-fusion query; final alias ``bsc`` =
#: (doc_id, score_micros, n_terms) for every matching document
_BM25_CTE = r"""t AS (SELECT doc_id,
                      regexp_split_to_array(lower(text), '\s+') AS toks
               FROM documents),
    ex AS (SELECT doc_id, unnest(toks) AS token FROM t),
    e2 AS (SELECT doc_id, token FROM ex WHERE token <> ''),
    idx AS (SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
            FROM e2 GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM idx GROUP BY 1),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
    hits AS (SELECT * FROM idx WHERE token IN ('spark', 'join', 'merge')),
    dfr AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM hits GROUP BY 1),
    sc AS (SELECT h.doc_id,
                  CAST(length(bin((2*st.n_docs + 2) // (2*d.df + 1))) AS BIGINT)
                    AS idf_bits,
                  h.tf, l.dl, st.n_docs, st.sum_dl
           FROM hits h JOIN dfr d USING (token)
           JOIN dl l USING (doc_id) CROSS JOIN st),
    ts AS (SELECT doc_id,
                  CAST(FLOOR(
                    CAST(CAST(idf_bits AS HUGEINT) * 22000000 * tf * sum_dl
                         AS DOUBLE)
                    / CAST(CAST(10 AS HUGEINT)*tf*sum_dl
                           + CAST(3 AS HUGEINT)*sum_dl
                           + CAST(9 AS HUGEINT)*dl*n_docs AS DOUBLE)
                  ) AS BIGINT) AS s
           FROM sc),
    bsc AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS score_micros,
                   CAST(COUNT(*) AS BIGINT) AS n_terms
            FROM ts GROUP BY doc_id)"""


@query(
    "q_bm25_search",
    oracle=f"""
    WITH {_BM25_CTE}
    SELECT doc_id, score_micros, n_terms FROM bsc
    ORDER BY score_micros DESC, doc_id ASC LIMIT 25
    """,
    description="BM25 ranked retrieval (operators/index.bm25_search) "
    "for ['spark','join','merge'] over the posting-list relation, in "
    "EXACT integer arithmetic: idf quantized to whole bits via "
    "bit_length((2N+2) div (2df+1)) — the surprisal_profile device, no "
    "floating log — and k1=6/5, b=3/4 fixed rationals clear the tf "
    "normalization to the integer ratio 22*tf*sum_dl / "
    "(10*tf*sum_dl + 3*sum_dl + 9*dl*N) in decimal(38,0)/HUGEINT, one "
    "final double division floored to micros (the trend-operator "
    "idiom), per-doc score an order-free integer SUM. Top-25 is a "
    "TakeOrdered with doc_id tie-break. Cost is the queried posting "
    "lists + two corpus aggregates; at 100 TB the index persists "
    "bucketed by token so the term filter is a pruned scan.",
    refs=("§2.12", "A5", "D3"),
)
def q_bm25_search(spark, sf_dir):
    from lakeflow.operators.index import bm25_search, build_inverted_index

    d = load_table(spark, sf_dir, "documents")
    idx = build_inverted_index(d)
    return bm25_search(idx, ["spark", "join", "merge"], k=25)


@query(
    "q_hybrid_search",
    oracle=f"""
    WITH {_BM25_CTE},
    tr AS (SELECT doc_id, rank_a FROM (
             SELECT doc_id, CAST(row_number() OVER (
               ORDER BY score_micros DESC, doc_id) AS BIGINT) AS rank_a
             FROM bsc) z WHERE rank_a <= 50),
    ve AS (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings),
    vn AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM ve),
    vq AS (SELECT v AS qv, n2 AS qn2 FROM vn WHERE vec_id = 7),
    vs AS (SELECT vn.vec_id AS doc_id,
                  CAST(FLOOR(list_dot_product(vn.v, vq.qv)
                             / (sqrt(vn.n2) * sqrt(vq.qn2))
                             * 1000000e0 + 0.5e0) AS BIGINT) AS cos_micros
           FROM vn CROSS JOIN vq WHERE vn.vec_id <> 7),
    vr AS (SELECT doc_id, rank_b FROM (
             SELECT doc_id, CAST(row_number() OVER (
               ORDER BY cos_micros DESC, doc_id) AS BIGINT) AS rank_b
             FROM vs) z WHERE rank_b <= 50)
    SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id, a.rank_a, b.rank_b,
           CAST(COALESCE(1000000 // (60 + a.rank_a), 0)
                + COALESCE(1000000 // (60 + b.rank_b), 0) AS BIGINT)
             AS rrf_micros
    FROM tr a FULL OUTER JOIN vr b ON a.doc_id = b.doc_id
    ORDER BY rrf_micros DESC, doc_id ASC LIMIT 20
    """,
    description="Hybrid retrieval via reciprocal-rank fusion "
    "(operators/index.rrf_fuse): the BM25 top-50 for "
    "['spark','join','merge'] fused with the exact-cosine top-50 "
    "neighbors of vector 7 (documents and embeddings share the id "
    "space) by score(d) = sum of 1/(60 + rank) per list — PURE integer "
    "micros (1000000 div (60+rank)), missing side contributes 0, so "
    "the fused ranking is bit-exact on any engine. Both inputs are "
    "already-bounded top-k relations, so the outer join, the ranking "
    "windows, and the final TakeOrdered are constant-size at any "
    "corpus scale; the corpus-sized work is exactly the two underlying "
    "retrievals. The RAG-stack keyword+vector combiner.",
    refs=("§2.12", "J2", "D3"),
)
def q_hybrid_search(spark, sf_dir):
    from pyspark.sql import Window

    from lakeflow.operators.index import bm25_search, build_inverted_index, rrf_fuse
    from lakeflow.operators.similarity import brute_force_topk

    d = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    text = bm25_search(build_inverted_index(d), ["spark", "join", "merge"], k=50)
    # rank the <= 50 fused candidates: a bounded single-partition
    # window over an already-limited relation, never corpus-sized
    text = text.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.desc("score_micros"), F.asc("doc_id")))
    ).select("doc_id", "rnk")
    vec = brute_force_topk(emb, F.col("vec_id") == 7, k=50).select(
        F.col("vec_id").alias("doc_id"), "rnk"
    )
    return rrf_fuse(text, vec, k=20)


@query(
    "q_shard_assignment",
    oracle=f"""
    SELECT {SQL_SEEDED_HASH.format(seed="shard", x="CAST(doc_id AS VARCHAR)")} % 8 AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY 1
    """,
    description="Deterministic training-shard assignment "
    "(sinks/shards.py): every document's shard is seeded-hash(doc_id) "
    "mod 8 — a pure function of the data, so re-exports, retries, and "
    "other engines agree and interrupted exports resume per-shard — "
    "with per-shard doc/char totals (the balance report an epoch "
    "planner reads). The write path is partitionBy('shard') (no "
    "shuffle needed for correctness; one hash repartition when the "
    "trainer wants exactly one file per shard) and the manifest "
    "(rows/files/bytes per shard) comes from parquet footers only.",
    refs=("§2.12", "K1"),
)
def q_shard_assignment(spark, sf_dir):
    from lakeflow.sinks.shards import with_shard

    d = load_table(spark, sf_dir, "documents")
    return (
        with_shard(d, "doc_id", 8)
        .groupBy(F.col("shard").cast("long").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


@query(
    "q_winsorize",
    oracle="""
    WITH thr AS (
      SELECT quantile_cont(n_chars * 1000000, 0.1e0) AS lo,
             quantile_cont(n_chars * 1000000, 0.9e0) AS hi
      FROM documents)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(FLOOR(LEAST(GREATEST(n_chars * 1000000, lo), hi)) AS BIGINT)) AS BIGINT)
             AS sum_clamped_micros
    FROM documents, thr GROUP BY source
    """,
    description="Winsorization (operators/corpus.winsorize): clamp "
    "every document's length signal to the global [p10, p90] band "
    "instead of dropping rows — tail-robust inputs for mixing weights "
    "and per-domain calibration. ONE threshold aggregate (sketch "
    "percentiles at scale, exact interpolated here for bit parity "
    "with the oracle's quantile_cont on integer micros), broadcast as "
    "a 1-row relation into a narrow codegen clamp; the corpus is "
    "never sorted or shuffled. Per-source clamped totals in exact "
    "micro-ints.",
    refs=("§2.12", "A5", "F5"),
)
def q_winsorize(spark, sf_dir):
    from lakeflow.operators.corpus import winsorize

    d = load_table(spark, sf_dir, "documents").withColumn(
        "chars_micros", (F.col("n_chars").cast("long") * 1_000_000)
    )
    w = winsorize(d, "chars_micros", 0.1, 0.9, approx=False, out_col="clamped")
    return w.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.floor("clamped").cast("long")).alias("sum_clamped_micros"),
    )


@query(
    "q_oov_rate",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      FROM documents
    ), tok2 AS (SELECT * FROM tok WHERE token <> ''),
    vocab AS (
      SELECT token FROM (
        SELECT token, COUNT(*) AS n FROM tok2 GROUP BY token
        ORDER BY n DESC, token ASC LIMIT 100)
    ),
    totals AS (SELECT doc_id, COUNT(*) AS n_tokens FROM tok2 GROUP BY doc_id),
    iv AS (
      SELECT doc_id, COUNT(*) AS n_in FROM tok2
      WHERE token IN (SELECT token FROM vocab) GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CAST(t.n_tokens - COALESCE(iv.n_in, 0) AS BIGINT) AS n_oov,
           CAST(((t.n_tokens - COALESCE(iv.n_in, 0)) * 1000000) // t.n_tokens AS BIGINT)
             AS oov_micros
    FROM totals t LEFT JOIN iv ON iv.doc_id = t.doc_id
    """,
    description="Per-document out-of-vocabulary rate against the "
    "corpus's own top-100 token vocabulary (operators/corpus."
    "oov_profile) — the tokenizer-coverage diagnostic: high-OOV docs "
    "are junk/wrong-language/markup, and a rising corpus OOV trend "
    "means the vocab no longer fits the mix. The vocabulary is a "
    "TakeOrdered k-row relation (count-desc, token-asc tie break — "
    "deterministic across engines) broadcast into a semi-join count; "
    "token totals and in-vocab totals ride the same explode through "
    "two map-side-combined hash aggregates; exact integer micro "
    "fractions.",
    refs=("§2.12", "A5", "N7"),
)
def q_oov_rate(spark, sf_dir):
    from lakeflow.operators.corpus import oov_profile

    d = load_table(spark, sf_dir, "documents")
    return oov_profile(d, "doc_id", "text", 100)


@query(
    "q_tokenize_ids",
    oracle=r"""
    WITH base AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
      FROM documents),
    tok AS (
      SELECT doc_id, unnest(arr) AS token,
             unnest(generate_series(1, len(arr))) AS ord
      FROM base),
    tok2 AS (SELECT * FROM tok WHERE token <> ''),
    cnt AS (SELECT token, COUNT(*) AS n FROM tok2 GROUP BY token),
    vocab AS (
      SELECT token,
             CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS BIGINT) AS tid
      FROM (SELECT * FROM cnt ORDER BY n DESC, token ASC LIMIT 100))
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           array_to_string(
             list(CAST(COALESCE(v.tid, 0) AS BIGINT) ORDER BY t.ord),
             ' ') AS token_ids_str
    FROM tok2 t LEFT JOIN vocab v USING (token)
    GROUP BY t.doc_id
    """,
    description="Tokenize-to-ids export (operators/corpus."
    "tokenize_to_ids): every document becomes its integer token-id "
    "sequence against the corpus's top-100 vocabulary (rank = id, OOV "
    "-> 0) — the final transform before packing and shard export hand "
    "data to a training loader; a BPE vocab table plugs into the same "
    "join. Vocab is a TakeOrdered k-row relation (deterministic "
    "count-desc/token-asc ids) broadcast onto the posexploded tokens; "
    "sequences reassemble via array_sort(collect_list(struct(pos, "
    "id))) — one shuffle on doc id. The driver-compared surface "
    "serializes each id sequence to its canonical space-joined string "
    "(plus the sequence length) because the driver's pandas "
    "canonicalizer cannot sort raw list cells (CORRECTNESS_r06 err: "
    "unhashable type 'list'); the string compare is "
    "position-sensitive, so it certifies the same element-for-element "
    "equality. q_tokenize_ids_arrays keeps the native array<long> "
    "form registered for the local gate.",
    refs=("§2.12", "N7", "F8"),
)
def q_tokenize_ids(spark, sf_dir):
    from lakeflow.operators.corpus import tokenize_to_ids

    d = load_table(spark, sf_dir, "documents")
    out = tokenize_to_ids(d, "doc_id", "text", 100)
    ids = F.col("token_ids").cast("array<long>")
    return out.select(
        "doc_id",
        F.size(ids).cast("long").alias("n_tokens"),
        F.array_join(ids.cast("array<string>"), " ").alias("token_ids_str"),
    )


@query(
    "q_tokenize_ids_arrays",
    oracle=r"""
    WITH base AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
      FROM documents),
    tok AS (
      SELECT doc_id, unnest(arr) AS token,
             unnest(generate_series(1, len(arr))) AS ord
      FROM base),
    tok2 AS (SELECT * FROM tok WHERE token <> ''),
    cnt AS (SELECT token, COUNT(*) AS n FROM tok2 GROUP BY token),
    vocab AS (
      SELECT token,
             CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS BIGINT) AS tid
      FROM (SELECT * FROM cnt ORDER BY n DESC, token ASC LIMIT 100))
    SELECT t.doc_id,
           list(CAST(COALESCE(v.tid, 0) AS BIGINT) ORDER BY t.ord) AS token_ids
    FROM tok2 t LEFT JOIN vocab v USING (token)
    GROUP BY t.doc_id
    """,
    description="The native array<long> form of q_tokenize_ids — what "
    "a training loader actually consumes. Registered for the local "
    "gate (lakeflow/testing.py stringifies cells before sorting, so "
    "list cells canonicalize fine there); the driver window carries "
    "the string-serialized q_tokenize_ids instead.",
    refs=("§2.12", "N7", "F8"),
)
def q_tokenize_ids_arrays(spark, sf_dir):
    from lakeflow.operators.corpus import tokenize_to_ids

    d = load_table(spark, sf_dir, "documents")
    out = tokenize_to_ids(d, "doc_id", "text", 100)
    return out.select(
        "doc_id", F.col("token_ids").cast("array<long>").alias("token_ids")
    )


@query(
    "q_setsim_join",
    oracle=f"""
    WITH {_shingle_cte('documents')},
    dt AS (SELECT DISTINCT doc_id, s FROM ex),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM dt GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS inter
      FROM dt a JOIN dt b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT ia AS doc_id_a, ib AS doc_id_b,
           CAST(FLOOR(CAST(inter AS DOUBLE)
                      / CAST(za.sz + zb.sz - inter AS DOUBLE)
                      * 1000000e0 + 0.5e0) AS BIGINT) AS jaccard_micros
    FROM inter JOIN sz za ON za.doc_id = ia JOIN sz zb ON zb.doc_id = ib
    WHERE inter * 1000000 >= 300000 * (za.sz + zb.sz - inter)
    """,
    description="Exact set-similarity self-join via prefix filtering "
    "(operators/setsim, PPJoin-style): rarest-first global element "
    "order, per-set prefix equi-join + integer length filter for "
    "candidates, exact verification on candidates only. The oracle is "
    "the GROUND TRUTH all-shared-element pair scan, so a green row "
    "proves the prefix filter's zero-false-negative guarantee, not "
    "just self-consistency. Complements MinHash-LSH (recall<1) with "
    "the exact-recall dedup tier at equi-join cost.",
    refs=("§2.12", "N7", "J2"),
)
def q_setsim_join(spark, sf_dir):
    from lakeflow.operators.setsim import setsim_join

    d = load_table(spark, sf_dir, "documents")
    return setsim_join(d, "doc_id", "text", threshold_micros=300_000)


@query(
    "q_ts_gaps",
    oracle="""
    WITH g AS (
      SELECT user_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS gap_start,
             ts AS gap_end,
             epoch_us(ts) - lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS gap_micros
      FROM events)
    SELECT user_id, gap_start, gap_end, CAST(gap_micros AS BIGINT) AS gap_micros
    FROM g WHERE gap_micros >= 86400000000
    """,
    description="Missing-data detection per series (operators/"
    "timeseries.detect_gaps): every >=24h silence between consecutive "
    "events per user as (gap_start, gap_end, gap_micros) — the "
    "sensor-went-dark / ingest-stalled monitoring primitive and the "
    "inverse of the gap-FILLING resamplers. One per-series lag window "
    "(the sessionize shape), integer epoch-micro arithmetic.",
    refs=("§2.9", "§2.12"),
)
def q_ts_gaps(spark, sf_dir):
    from lakeflow.operators.timeseries import detect_gaps

    ev = load_table(spark, sf_dir, "events")
    return detect_gaps(ev, "user_id", "ts", "event_id", 86_400_000_000)


@query(
    "q_trend_slope",
    oracle="""
    WITH p AS (
      SELECT event_type,
             CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
             CAST(FLOOR(value * 1000000e0 + 0.5e0) AS BIGINT) AS y
      FROM events),
    s AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x * y AS HUGEINT)) AS sxy,
             SUM(CAST(x * x AS HUGEINT)) AS sxx
      FROM p GROUP BY event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CASE WHEN n >= 2 AND CAST(n*sxx - sx*sx AS DOUBLE) <> 0 THEN
             CAST(FLOOR(CAST(n*sxy - sx*sy AS DOUBLE)
                        / CAST(n*sxx - sx*sx AS DOUBLE) + 0.5e0) AS BIGINT)
           END AS slope_micros_per_x,
           CASE WHEN n >= 2 AND CAST(n*sxx - sx*sx AS DOUBLE) <> 0 THEN
             CAST(FLOOR((CAST(sy AS DOUBLE)
                         - CAST(n*sxy - sx*sy AS DOUBLE)
                           / CAST(n*sxx - sx*sx AS DOUBLE)
                           * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
                        + 0.5e0) AS BIGINT)
           END AS intercept_micros
    FROM s
    """,
    description="Per-event-type OLS trend of event value over time "
    "(operators/trend.grouped_ols): one map-side-combined hash "
    "aggregate of the exact sufficient statistics (decimal(38)/HUGEINT "
    "cross-row sums, long per-row products), slope + intercept in "
    "micro-units per day. Drift/trend profiling at one-scan cost; "
    "built-in regr_slope is avoided because its streaming double sums "
    "are partition-order-dependent (no bit parity).",
    refs=("§2.12", "A5", "F5"),
)
def q_trend_slope(spark, sf_dir):
    from lakeflow.operators.trend import grouped_ols

    ev = load_table(spark, sf_dir, "events")
    x = F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
    y = F.floor(F.col("value") * F.lit(1_000_000.0) + F.lit(0.5))
    return grouped_ols(ev, ["event_type"], x, y)


@query(
    "q_dsir_weights",
    oracle=f"""
    WITH t AS (SELECT doc_id, source IN ('src1', 'src3') AS tgt,
                      {_SQL_TOKS} AS toks FROM documents),
    ex AS (SELECT doc_id, tgt, unnest(toks) AS tok FROM t),
    e2 AS (SELECT doc_id, tgt, tok FROM ex WHERE tok <> ''),
    cnt AS (SELECT tok,
                   CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
                   CAST(SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS cr
            FROM e2 GROUP BY tok),
    tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt,
                   CAST(SUM(cr) AS BIGINT) AS tr FROM cnt),
    sc AS (
      SELECT doc_id,
             CAST(length(bin(tr // (cr + 1))) AS BIGINT)
               - CAST(length(bin(tt // (ct + 1))) AS BIGINT) AS s
      FROM e2 JOIN cnt USING (tok) CROSS JOIN tot)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(s) AS BIGINT) AS weight_bits,
           CAST(FLOOR(CAST(SUM(s) * 1000 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
                AS BIGINT) AS mean_weight_milli
    FROM sc GROUP BY doc_id
    """,
    description="DSIR-style importance weights for data selection "
    "(operators/corpus.importance_profile): per-document sum of "
    "whole-bit log ratios log2(p_target/p_raw) over tokens, target = "
    "sources src1/src3 — the importance-resampling recipe for pulling "
    "target-domain-like documents out of a raw crawl without a "
    "classifier. One tagged token hash-agg yields both distributions "
    "(conditional sums), totals broadcast as one row, score lookup is "
    "a token equi-join; integer bit-length arithmetic end to end.",
    refs=("§2.12", "A5", "J2"),
)
def q_dsir_weights(spark, sf_dir):
    from lakeflow.operators.corpus import importance_profile

    d = load_table(spark, sf_dir, "documents")
    return importance_profile(
        d, "doc_id", "text", F.col("source").isin("src1", "src3")
    )


@query(
    "q_pps_sample",
    oracle="""
    WITH w AS (
      SELECT doc_id, n_chars,
             (('0x' || substr(md5('pps|' || (doc_id::VARCHAR)), 1, 15))::BIGINT) AS h
      FROM documents WHERE n_chars > 0),
    c AS (
      SELECT doc_id, n_chars,
             SUM(n_chars) OVER (ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM w),
    t AS (SELECT CAST(SUM(n_chars) AS HUGEINT) AS tw FROM w)
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
    FROM c CROSS JOIN t
    WHERE (CAST(cum AS HUGEINT) * 100) // tw
          > (CAST(cum - n_chars AS HUGEINT) * 100) // tw
    """,
    description="Weighted ~100-row sample proportional to document "
    "size (operators/sampling.pps_systematic_sample): systematic PPS "
    "along a seeded pseudo-random order — the selection half of "
    "importance resampling (feed it q_dsir_weights' weights or token "
    "counts). Exact integer boundary test ((cum*k) div W stepping), "
    "cumulative weight via the distributed prefix sum (no whole-corpus "
    "single-task sort), deterministic under reshuffles and across "
    "engines.",
    refs=("§2.12", "A5"),
)
def q_pps_sample(spark, sf_dir):
    from lakeflow.operators.sampling import pps_systematic_sample

    d = load_table(spark, sf_dir, "documents")
    out = pps_systematic_sample(d, "doc_id", "n_chars", 100, seed="pps")
    return out.select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))


@query(
    "q_bpe_merges",
    oracle=r"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
      FROM documents),
    wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM tok
           WHERE word <> '' GROUP BY word),
    pr AS (
      SELECT substr(word, i, 1) AS left_sym,
             substr(word, i + 1, 1) AS right_sym, n
      FROM wc, unnest(generate_series(1, len(word) - 1)) AS t(i)
      WHERE len(word) >= 2)
    SELECT left_sym, right_sym, CAST(SUM(n) AS BIGINT) AS pair_count
    FROM pr GROUP BY left_sym, right_sym
    ORDER BY pair_count DESC, left_sym, right_sym LIMIT 20
    """,
    description="First BPE merge round over the corpus "
    "(operators/bpe): adjacent-symbol pair counts weighted by word "
    "frequency, top-20 candidates — the tokenizer-TRAINING primitive "
    "completing the vocab -> merges -> tokenize-to-ids -> pack -> "
    "shard chain. Training never rescans the corpus: rounds run over "
    "the distinct-word frequency table (one explode + hash-agg), the "
    "argmax is a TakeOrdered 1-row collect, and merges apply as a "
    "higher-order array fold (leftmost-first, reference BPE "
    "semantics) — multi-round learning is validated against a "
    "driver-side reference in tests/test_bpe.py.",
    refs=("§2.12", "N7", "A5"),
)
def q_bpe_merges(spark, sf_dir):
    from lakeflow.operators.bpe import pair_counts, symbolize, word_counts

    d = load_table(spark, sf_dir, "documents")
    pc = pair_counts(symbolize(word_counts(d, "text")))
    return (
        pc.select(
            F.col("left").alias("left_sym"),
            F.col("right").alias("right_sym"),
            "pair_count",
        )
        .orderBy(F.col("pair_count").desc(), "left_sym", "right_sym")
        .limit(20)
    )


@query(
    "q_embedding_dim_stats",
    oracle=f"""
    WITH e AS (SELECT {_SQL_VEC} AS arr FROM embeddings),
    ex AS (
      SELECT i - 1 AS dim, arr[i] AS val
      FROM e, unnest(generate_series(1, len(arr))) AS t(i)),
    g AS (
      SELECT dim, CAST(COUNT(*) AS BIGINT) AS n_vectors,
             CAST(SUM(val) AS BIGINT) AS sum_micros,
             CAST(MIN(val) AS BIGINT) AS min_micros,
             CAST(MAX(val) AS BIGINT) AS max_micros,
             SUM(CAST(val AS HUGEINT) * CAST(val AS HUGEINT)) AS s2
      FROM ex GROUP BY dim)
    SELECT dim, n_vectors, sum_micros, min_micros, max_micros,
           CAST(sum_micros AS DOUBLE) / n_vectors AS mean,
           CAST(s2 AS DOUBLE) / n_vectors
             - (CAST(sum_micros AS DOUBLE) / n_vectors)
               * (CAST(sum_micros AS DOUBLE) / n_vectors) AS variance
    FROM g
    """,
    description="Per-dimension embedding statistics (operators/"
    "similarity.dimension_stats): count/sum/min/max/mean/variance for "
    "each vector dimension — the drift/collapse diagnostic that "
    "catches a broken encoder or normalization regression dimension by "
    "dimension (complements q_embedding_stats' per-vector norms). One "
    "posexplode + one dim-keyed hash-agg (cardinality = vector width); "
    "exact integer micro sums, decimal(38)/HUGEINT second moments, "
    "IEEE-order-pinned double derivation.",
    refs=("§2.12", "A5", "N7"),
)
def q_embedding_dim_stats(spark, sf_dir):
    from lakeflow.operators.similarity import dimension_stats

    emb = load_table(spark, sf_dir, "embeddings")
    return dimension_stats(emb)


@query(
    "q_mad_outliers",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(FLOOR(value * 1000000e0 + 0.5e0) AS BIGINT) AS v
      FROM events),
    med AS (
      SELECT event_type,
             CAST(FLOOR(quantile_cont(v, 0.5e0) + 0.5e0) AS BIGINT) AS median_micros
      FROM b GROUP BY event_type),
    dev AS (
      SELECT b.event_type, v, median_micros,
             abs(v - median_micros) AS d
      FROM b JOIN med USING (event_type)),
    mad AS (
      SELECT event_type,
             CAST(FLOOR(quantile_cont(d, 0.5e0) + 0.5e0) AS BIGINT) AS mad_micros
      FROM dev GROUP BY event_type)
    SELECT dev.event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(dev.median_micros) AS BIGINT) AS median_micros,
           CAST(MIN(mad_micros) AS BIGINT) AS mad_micros,
           CAST(SUM(CASE WHEN d * 1000 > 3500 * mad_micros THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev JOIN mad USING (event_type)
    GROUP BY dev.event_type
    """,
    description="Robust per-key anomaly profile via median absolute "
    "deviation (operators/profile.mad_outlier_profile): median, MAD, "
    "and the count of |x-median|*1000 > 3500*MAD outliers per event "
    "type — the monitoring cut that does not move toward the anomalies "
    "it detects (mean/stddev does). Two percentile aggregates + one "
    "counting pass keyed by the profile key; production path uses the "
    "approx_percentile GK sketch (bounded state), exact interpolated "
    "percentiles here for oracle parity (the percentile_band/winsorize "
    "contract); integer cross-multiply outlier test.",
    refs=("§2.12", "A5"),
)
def q_mad_outliers(spark, sf_dir):
    from lakeflow.operators.profile import mad_outlier_profile

    ev = load_table(spark, sf_dir, "events")
    v = F.floor(F.col("value") * F.lit(1_000_000.0) + F.lit(0.5))
    return mad_outlier_profile(ev, ["event_type"], v, approx=False)


@query(
    "q_data_selection",
    oracle=f"""
    WITH t AS (SELECT doc_id, source IN ('src1', 'src3') AS tgt,
                      {_SQL_TOKS} AS toks FROM documents),
    ex AS (SELECT doc_id, tgt, unnest(toks) AS tok FROM t),
    e2 AS (SELECT doc_id, tgt, tok FROM ex WHERE tok <> ''),
    cnt AS (SELECT tok,
                   CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
                   CAST(SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS cr
            FROM e2 GROUP BY tok),
    tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt,
                   CAST(SUM(cr) AS BIGINT) AS tr FROM cnt),
    sc AS (
      SELECT doc_id,
             CAST(length(bin(tr // (cr + 1))) AS BIGINT)
               - CAST(length(bin(tt // (ct + 1))) AS BIGINT) AS s
      FROM e2 JOIN cnt USING (tok) CROSS JOIN tot),
    prof AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(s) AS BIGINT) AS weight_bits
      FROM sc GROUP BY doc_id),
    mn AS (SELECT CAST(MIN(weight_bits) AS BIGINT) AS m FROM prof),
    w AS (SELECT doc_id, n_tokens, weight_bits,
                 weight_bits - m + 1 AS wt,
                 (('0x' || substr(md5('sel|' || (doc_id::VARCHAR)), 1, 15))::BIGINT) AS h
          FROM prof CROSS JOIN mn),
    c AS (SELECT doc_id, n_tokens, weight_bits, wt,
                 SUM(wt) OVER (ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM w),
    tw AS (SELECT CAST(SUM(wt) AS HUGEINT) AS W FROM w)
    SELECT doc_id, n_tokens, weight_bits
    FROM c CROSS JOIN tw
    WHERE (CAST(cum AS HUGEINT) * 50) // W
          > (CAST(cum - wt AS HUGEINT) * 50) // W
    """,
    description="End-to-end data-selection funnel (DSIR weights -> "
    "min-shifted positive weights -> importance-proportional PPS "
    "sample of ~50 docs): the composed pipeline a curation job runs — "
    "score every document against the target domain, then sample "
    "proportional to shifted importance so target-like documents are "
    "overrepresented but nothing is hard-dropped. One tagged token "
    "hash-agg + equi-join for the scores, the distributed prefix sum "
    "for the cumulative weights, exact integer boundary selection — "
    "the whole funnel is deterministic in the data across engines and "
    "partitionings (composes q_dsir_weights and q_pps_sample "
    "machinery end to end).",
    refs=("§2.12", "A5", "J2"),
)
def q_data_selection(spark, sf_dir):
    from lakeflow.operators.corpus import importance_profile
    from lakeflow.operators.sampling import pps_systematic_sample

    from lakeflow.caching import maybe_persist

    d = load_table(spark, sf_dir, "documents")
    # the profile feeds the min aggregate AND the shifted main path —
    # persist it (under the ambient scope so the bench's scoped_cache
    # releases it) so the score join + per-doc reduction run once, not
    # twice (the internal token-explode persist only covers the scan)
    prof = maybe_persist(
        importance_profile(
            d, "doc_id", "text", F.col("source").isin("src1", "src3")
        ).select("doc_id", "n_tokens", "weight_bits"),
        None,
    )
    mn = prof.agg(F.min("weight_bits").alias("__m"))
    # min-shift to positive weights; aliases break the shared-lineage
    # self-join ambiguity (mn aggregates the same plan prof comes from)
    shifted = (
        prof.alias("__p")
        .crossJoin(F.broadcast(mn.alias("__m0")))
        .withColumn("wt", F.col("weight_bits") - F.col("__m") + F.lit(1))
        .drop("__m")
    )
    out = pps_systematic_sample(shifted, "doc_id", "wt", 50, seed="sel")
    return out.select("doc_id", "n_tokens", "weight_bits")


@query(
    "q_incremental_setsim",
    oracle=f"""
    WITH {_shingle_cte('documents')},
    dt AS (SELECT DISTINCT doc_id, s FROM ex),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM dt GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS inter
      FROM dt a JOIN dt b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT ia AS doc_id_a, ib AS doc_id_b,
           CAST(FLOOR(CAST(inter AS DOUBLE)
                      / CAST(za.sz + zb.sz - inter AS DOUBLE)
                      * 1000000e0 + 0.5e0) AS BIGINT) AS jaccard_micros
    FROM inter JOIN sz za ON za.doc_id = ia JOIN sz zb ON zb.doc_id = ib
    WHERE inter * 1000000 >= 250000 * (za.sz + zb.sz - inter)
      AND (ia % 10 = 0 OR ib % 10 = 0)
    """,
    description="Incremental EXACT near-dup (operators/setsim."
    "incremental_setsim_pairs): the batch of documents with doc_id%10=0 "
    "joined against the persisted element index of the other 90% — "
    "every qualifying pair touching a new document, zero false "
    "negatives, at |batch| x bucket-density cost (old x old never "
    "regenerated; the exact-recall twin of q_incremental_near_dup's "
    "LSH tier). The oracle is the ground-truth all-pairs scan "
    "restricted to new-touching pairs, so the green row certifies "
    "incremental == batch-recompute.",
    refs=("§2.12", "J2", "N7"),
)
def q_incremental_setsim(spark, sf_dir):
    from lakeflow.caching import maybe_persist
    from lakeflow.operators.setsim import element_index, incremental_setsim_pairs

    d = load_table(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") % 10 == 0)
    stored = d.filter(F.col("doc_id") % 10 != 0)
    # in production the stored element index is a PERSISTED table
    # (element_index's contract: append each batch's rows); this query
    # derives it in-flight for self-containment, so persist it — its
    # two consumers (shared-element candidate join, verify arrays)
    # must not re-shingle 90% of the corpus each
    idx = maybe_persist(element_index(stored, "doc_id", "text"), None)
    return incremental_setsim_pairs(new, idx, "doc_id", "text", 250_000)


_LINKAGE_SIM_NAME = (
    "CASE WHEN GREATEST(LENGTH(l.p_name), LENGTH(r.name)) = 0 THEN 1000000 "
    "ELSE CAST(FLOOR(CAST((GREATEST(LENGTH(l.p_name), LENGTH(r.name)) "
    "- levenshtein(l.p_name, r.name)) AS DOUBLE) * 1000000e0 "
    "/ CAST(GREATEST(LENGTH(l.p_name), LENGTH(r.name)) AS DOUBLE)) AS BIGINT) END"
)
_LINKAGE_SIM_TYPE = (
    "CASE WHEN GREATEST(LENGTH(l.p_type), LENGTH(r.type)) = 0 THEN 1000000 "
    "ELSE CAST(FLOOR(CAST((GREATEST(LENGTH(l.p_type), LENGTH(r.type)) "
    "- levenshtein(l.p_type, r.type)) AS DOUBLE) * 1000000e0 "
    "/ CAST(GREATEST(LENGTH(l.p_type), LENGTH(r.type)) AS DOUBLE)) AS BIGINT) END"
)

# Perturbed "second catalog" (id-shifted, OCR-style e->3 / o->0 name
# mangling, brand/size/type carried) + the candidate CTE shared by both
# linkage oracles: two blocking passes — (brand, size) composite
# (selective, survives) and first-word-of-name (degenerate, dropped by
# the hot-block cap) — distinct on the id pair.
_LINKAGE_CAND_CTE = """
    r AS (
      SELECT p_partkey + 1000000 AS cat_id,
             translate(p_name, 'eo', '30') AS name,
             p_brand AS brand, p_size AS size, p_type AS type
      FROM part),
    lb1 AS (SELECT p_brand || '|' || p_size AS bk, COUNT(*) AS n
            FROM part GROUP BY 1),
    rb1 AS (SELECT brand || '|' || size AS bk, COUNT(*) AS n
            FROM r GROUP BY 1),
    lb2 AS (SELECT split_part(p_name, ' ', 1) AS bk, COUNT(*) AS n
            FROM part GROUP BY 1),
    rb2 AS (SELECT split_part(name, ' ', 1) AS bk, COUNT(*) AS n
            FROM r GROUP BY 1),
    cand AS (
      SELECT DISTINCT p_partkey, cat_id FROM (
        SELECT l.p_partkey, rr.cat_id
        FROM part l JOIN r rr
          ON l.p_brand || '|' || l.p_size = rr.brand || '|' || rr.size
        WHERE l.p_brand || '|' || l.p_size
              IN (SELECT bk FROM lb1 WHERE n <= 60)
          AND rr.brand || '|' || rr.size
              IN (SELECT bk FROM rb1 WHERE n <= 60)
        UNION ALL
        SELECT l.p_partkey, rr.cat_id
        FROM part l JOIN r rr
          ON split_part(l.p_name, ' ', 1) = split_part(rr.name, ' ', 1)
        WHERE split_part(l.p_name, ' ', 1)
              IN (SELECT bk FROM lb2 WHERE n <= 60)
          AND split_part(rr.name, ' ', 1)
              IN (SELECT bk FROM rb2 WHERE n <= 60)
      ))"""

_LINKAGE_SCORE = (
    f"CAST(FLOOR(CAST(2 * ({_LINKAGE_SIM_NAME}) + 1 * ({_LINKAGE_SIM_TYPE}) "
    f"AS DOUBLE) / 3e0) AS BIGINT)"
)


def _linkage_frames(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    right = p.select(
        (F.col("p_partkey") + 1_000_000).alias("cat_id"),
        F.translate("p_name", "eo", "30").alias("name"),
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("size"),
        F.col("p_type").alias("type"),
    )
    return p, right


def _linkage_pairs(spark, sf_dir):
    from lakeflow.operators.linkage import record_linkage

    left, right = _linkage_frames(spark, sf_dir)
    return record_linkage(
        left,
        right,
        "p_partkey",
        "cat_id",
        fields=[("p_name", "name", 2), ("p_type", "type", 1)],
        block_keys=[
            (
                F.concat_ws("|", "p_brand", "p_size"),
                F.concat_ws("|", "brand", "size"),
            ),
            (
                F.substring_index("p_name", " ", 1),
                F.substring_index("name", " ", 1),
            ),
        ],
        threshold_micros=550_000,
        max_block_size=60,
    )


@query(
    "q_record_linkage",
    oracle=f"""
    WITH {_LINKAGE_CAND_CTE}
    SELECT c.p_partkey AS partkey_a, c.cat_id AS partkey_b,
           {_LINKAGE_SCORE} AS score_micros,
           CASE WHEN {_LINKAGE_SCORE} >= 550000 THEN 1 ELSE 0 END AS is_match
    FROM cand c
    JOIN part l ON l.p_partkey = c.p_partkey
    JOIN r ON r.cat_id = c.cat_id
    """,
    description="Record linkage / entity resolution (operators/"
    "linkage.record_linkage): the part catalog vs a perturbed second "
    "catalog (OCR-style e->3/o->0 name mangling) linked by "
    "Fellegi-Sunter-style blocking + weighted exact-integer edit "
    "similarity. Two blocking passes union'd — (brand,size) composite "
    "(selective) and first-word-of-name (degenerate: ~15 adjectives "
    "cover the catalog, so the hot-block cap drops it, the blocking "
    "analogue of the LSH hot-bucket cap) — never all-pairs; scoring "
    "is pure JVM levenshtein in codegen on candidates only. The fuzzy "
    "complement to content dedup for multi-source fan-in without "
    "clean natural keys.",
    refs=("§2.12", "J2", "F1"),
)
def q_record_linkage(spark, sf_dir):
    out = _linkage_pairs(spark, sf_dir)
    return out.select(
        F.col("p_partkey").alias("partkey_a"),
        F.col("cat_id").alias("partkey_b"),
        "score_micros",
        F.when(F.col("match"), 1).otherwise(0).cast("int").alias("is_match"),
    )


@query(
    "q_entity_resolution",
    oracle=f"""
    WITH RECURSIVE {_LINKAGE_CAND_CTE},
    m AS (
      SELECT c.p_partkey AS ia, c.cat_id AS ib
      FROM cand c
      JOIN part l ON l.p_partkey = c.p_partkey
      JOIN r ON r.cat_id = c.cat_id
      WHERE {_LINKAGE_SCORE} >= 550000),
    e AS (SELECT ia AS src, ib AS dst FROM m UNION SELECT ib, ia FROM m),
    reach AS (
      SELECT src AS id, src AS rt FROM e
      UNION
      SELECT e.src AS id, reach.rt FROM e JOIN reach ON e.dst = reach.id),
    lbl AS (SELECT id, MIN(rt) AS entity_id FROM reach GROUP BY id),
    ids AS (
      SELECT p_partkey AS id FROM part
      UNION ALL SELECT cat_id FROM r)
    SELECT COALESCE(lbl.entity_id, ids.id) AS entity_id,
           CAST(COUNT(*) AS BIGINT) AS n_records
    FROM ids LEFT JOIN lbl ON lbl.id = ids.id
    GROUP BY 1
    """,
    description="End-to-end entity consolidation (operators/linkage."
    "resolve_entities): match pairs from q_record_linkage's scorer -> "
    "connected components (min-label propagation, join-only rounds) -> "
    "every record from BOTH catalogs tagged with its entity id "
    "(unmatched records stay their own entity), aggregated to entity "
    "sizes. The oracle replays the transitive closure with a recursive "
    "CTE, certifying cluster assignment — the step that turns fuzzy "
    "pair scores into a mergeable golden-record key.",
    refs=("§2.12", "J2"),
)
def q_entity_resolution(spark, sf_dir):
    from lakeflow.operators.linkage import resolve_entities

    left, right = _linkage_frames(spark, sf_dir)
    pairs = _linkage_pairs(spark, sf_dir).filter("match")
    records = left.select(F.col("p_partkey").alias("rec_id")).unionByName(
        right.select(F.col("cat_id").alias("rec_id"))
    )
    tagged = resolve_entities(
        pairs, records, "rec_id", left_id="p_partkey", right_id="cat_id"
    )
    return tagged.groupBy("entity_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_records")
    )


def _fs_post_sql(lam: str, m0: str, u0: str, m1: str, u1: str) -> str:
    """Quantized FS posterior as SQL, mirroring linkage._fs_posterior_micros
    construction-for-construction: complements are always written as
    (1e0 - x) — never pre-folded literals — because the Spark side folds
    Python ``1.0 - x``, and only the identical operation sequence
    guarantees identical IEEE doubles."""
    num = (
        f"({lam} * (CASE WHEN a0 THEN {m0} ELSE 1e0 - ({m0}) END) "
        f"* (CASE WHEN a1 THEN {m1} ELSE 1e0 - ({m1}) END))"
    )
    den = (
        f"((1e0 - ({lam})) * (CASE WHEN a0 THEN {u0} ELSE 1e0 - ({u0}) END) "
        f"* (CASE WHEN a1 THEN {u1} ELSE 1e0 - ({u1}) END))"
    )
    return f"CAST(FLOOR({num} / ({num} + {den}) * 1000000e0 + 0.5e0) AS BIGINT)"


def _fs_round_sql(p_cte: str) -> str:
    """Aggregate + M-step over a posterior CTE (integer sums only;
    ratios as single double divisions of the exact sums — the same
    arithmetic fit_fs_em does driver-side)."""
    return f"""
    (SELECT CAST(SUM(p) AS BIGINT) AS S, CAST(COUNT(*) AS BIGINT) AS N,
            CAST(SUM(CASE WHEN a0 THEN p ELSE 0 END) AS BIGINT) AS SA0,
            CAST(SUM(CASE WHEN a0 THEN 1 ELSE 0 END) AS BIGINT) AS T0,
            CAST(SUM(CASE WHEN a1 THEN p ELSE 0 END) AS BIGINT) AS SA1,
            CAST(SUM(CASE WHEN a1 THEN 1 ELSE 0 END) AS BIGINT) AS T1
     FROM {p_cte})"""


_FS_PARAMS = (
    "SELECT CAST(S AS DOUBLE) / CAST(N*1000000 AS DOUBLE) AS lam, "
    "CAST(SA0 AS DOUBLE) / CAST(S AS DOUBLE) AS m0, "
    "CAST(T0*1000000 - SA0 AS DOUBLE) / CAST(N*1000000 - S AS DOUBLE) AS u0, "
    "CAST(SA1 AS DOUBLE) / CAST(S AS DOUBLE) AS m1, "
    "CAST(T1*1000000 - SA1 AS DOUBLE) / CAST(N*1000000 - S AS DOUBLE) AS u1 "
)


@query(
    "q_fs_linkage",
    oracle=f"""
    WITH {_LINKAGE_CAND_CTE},
    sims AS (
      SELECT c.p_partkey, c.cat_id,
             {_LINKAGE_SIM_NAME} AS s0, {_LINKAGE_SIM_TYPE} AS s1
      FROM cand c
      JOIN part l ON l.p_partkey = c.p_partkey
      JOIN r ON r.cat_id = c.cat_id),
    f AS (SELECT p_partkey, cat_id,
                 s0 >= 800000 AS a0, s1 >= 800000 AS a1 FROM sims),
    p1 AS (SELECT *, {_fs_post_sql('0.5e0', '0.9e0', '0.1e0', '0.9e0', '0.1e0')} AS p
           FROM f),
    g1 AS {_fs_round_sql('p1')},
    w1 AS ({_FS_PARAMS} FROM g1),
    p2 AS (SELECT f.*, {_fs_post_sql('lam', 'm0', 'u0', 'm1', 'u1')} AS p
           FROM f CROSS JOIN w1),
    g2 AS {_fs_round_sql('p2')},
    w2 AS ({_FS_PARAMS} FROM g2)
    SELECT p_partkey AS partkey_a, cat_id AS partkey_b,
           {_fs_post_sql('lam', 'm0', 'u0', 'm1', 'u1')} AS posterior_micros,
           CASE WHEN {_fs_post_sql('lam', 'm0', 'u0', 'm1', 'u1')} >= 500000
                THEN 1 ELSE 0 END AS is_match
    FROM f CROSS JOIN w2
    """,
    description="UNSUPERVISED Fellegi-Sunter linkage (operators/linkage."
    "fit_fs_em + fs_posteriors): per-field m/u probabilities and the "
    "match prior fitted by 2-round EM over the same blocked candidates "
    "as q_record_linkage — no labeled pairs, which is the real state "
    "when two sources first meet. Each EM round is ONE aggregate whose "
    "E-step posterior is a folded-literal codegen expression QUANTIZED "
    "to integer micro-units before summing, so the fit is exact, "
    "partition-order-independent, and fully replayed by this SQL "
    "oracle (double M-step divisions of exact integer sums are "
    "IEEE-identical cross-engine). Output: every candidate's match "
    "posterior + decision.",
    refs=("§2.12", "J2", "A5"),
)
def q_fs_linkage(spark, sf_dir):
    from lakeflow.operators.linkage import (
        fit_fs_em,
        fs_posteriors,
        scored_candidates,
    )

    from lakeflow.caching import maybe_persist

    left, right = _linkage_frames(spark, sf_dir)
    # scoped persist: the EM fit re-aggregates `scored` once per round
    # and fs_posteriors scans it again — registered with the ambient
    # scoped_cache so the bench run releases it per-query.
    scored = maybe_persist(
        scored_candidates(
            left,
            right,
            "p_partkey",
            "cat_id",
            fields=[("p_name", "name", 1), ("p_type", "type", 1)],
            block_keys=[
                (
                    F.concat_ws("|", "p_brand", "p_size"),
                    F.concat_ws("|", "brand", "size"),
                ),
                (
                    F.substring_index("p_name", " ", 1),
                    F.substring_index("name", " ", 1),
                ),
            ],
            max_block_size=60,
        ),
        None,
    )
    params = fit_fs_em(scored, 2, agree_threshold_micros=800_000, n_rounds=2)
    out = fs_posteriors(
        scored, params, agree_threshold_micros=800_000,
        match_threshold_micros=500_000,
    )
    return out.select(
        F.col("p_partkey").alias("partkey_a"),
        F.col("cat_id").alias("partkey_b"),
        "posterior_micros",
        F.when(F.col("match"), 1).otherwise(0).cast("int").alias("is_match"),
    )


# Incremental entity resolution: ONE self-linkage record domain (both
# part catalogs unified into a single record stream), split into a
# stored 6/7 and a "new batch" 1/7 by rid % 7. The unified CTE carries
# both blocking keys; caps are evaluated on the COMBINED counts, which
# is exactly the incremental operator's contract (the cap must not
# depend on how the corpus was split into batches).
_ILINK_U_CTE = """
    u AS (
      SELECT p_partkey AS rid, p_name AS name, p_type AS type,
             p_brand || '|' || p_size AS bk1,
             split_part(p_name, ' ', 1) AS bk2
      FROM part
      UNION ALL
      SELECT p_partkey + 1000000, translate(p_name, 'eo', '30'), p_type,
             p_brand || '|' || p_size,
             split_part(translate(p_name, 'eo', '30'), ' ', 1)
      FROM part),
    b1 AS (SELECT bk1 AS bk, COUNT(*) AS n FROM u GROUP BY 1),
    b2 AS (SELECT bk2 AS bk, COUNT(*) AS n FROM u GROUP BY 1),
    cand AS (
      SELECT a.rid AS ia, b.rid AS ib
      FROM u a JOIN u b ON a.bk1 = b.bk1 AND a.rid < b.rid
      WHERE a.bk1 IN (SELECT bk FROM b1 WHERE n <= 120)
      UNION
      SELECT a.rid, b.rid
      FROM u a JOIN u b ON a.bk2 = b.bk2 AND a.rid < b.rid
      WHERE a.bk2 IN (SELECT bk FROM b2 WHERE n <= 120))"""

_ILINK_SIM_NAME = (
    "CASE WHEN GREATEST(LENGTH(l.name), LENGTH(r.name)) = 0 THEN 1000000 "
    "ELSE CAST(FLOOR(CAST((GREATEST(LENGTH(l.name), LENGTH(r.name)) "
    "- levenshtein(l.name, r.name)) AS DOUBLE) * 1000000e0 "
    "/ CAST(GREATEST(LENGTH(l.name), LENGTH(r.name)) AS DOUBLE)) AS BIGINT) END"
)
_ILINK_SIM_TYPE = (
    "CASE WHEN GREATEST(LENGTH(l.type), LENGTH(r.type)) = 0 THEN 1000000 "
    "ELSE CAST(FLOOR(CAST((GREATEST(LENGTH(l.type), LENGTH(r.type)) "
    "- levenshtein(l.type, r.type)) AS DOUBLE) * 1000000e0 "
    "/ CAST(GREATEST(LENGTH(l.type), LENGTH(r.type)) AS DOUBLE)) AS BIGINT) END"
)
_ILINK_SCORE = (
    f"CAST(FLOOR(CAST(2 * ({_ILINK_SIM_NAME}) + 1 * ({_ILINK_SIM_TYPE}) "
    f"AS DOUBLE) / 3e0) AS BIGINT)"
)


def _ilink_frames(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    left = p.select(
        F.col("p_partkey").alias("rid"),
        F.col("p_name").alias("name"),
        F.col("p_type").alias("type"),
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("size"),
    )
    right = p.select(
        (F.col("p_partkey") + 1_000_000).alias("rid"),
        F.translate("p_name", "eo", "30").alias("name"),
        F.col("p_type").alias("type"),
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("size"),
    )
    u = left.unionByName(right)
    return u.filter(F.col("rid") % 7 == 0), u.filter(F.col("rid") % 7 != 0)


_ILINK_KW = dict(
    fields=[("name", 2), ("type", 1)],
    threshold_micros=550_000,
    max_block_size=120,
)


def _ilink_blocks():
    return [
        F.concat_ws("|", "brand", "size"),
        F.substring_index("name", " ", 1),
    ]


@query(
    "q_incremental_linkage",
    oracle=f"""
    WITH {_ILINK_U_CTE}
    SELECT c.ia AS rid_a, c.ib AS rid_b,
           {_ILINK_SCORE} AS score_micros,
           CASE WHEN {_ILINK_SCORE} >= 550000 THEN 1 ELSE 0 END AS is_match
    FROM cand c
    JOIN u l ON l.rid = c.ia
    JOIN u r ON r.rid = c.ib
    WHERE c.ia % 7 = 0 OR c.ib % 7 = 0
    """,
    description="Incremental record linkage (operators/linkage."
    "incremental_linkage_pairs): a 1/7 batch of the unified two-catalog "
    "record stream linked against the persisted 6/7 — every scored "
    "candidate pair touching a new record, at new x block-density cost "
    "(stored x stored never regenerated; the linkage analogue of "
    "q_incremental_setsim). Block caps are evaluated on the COMBINED "
    "corpus counts, so the oracle — the full-batch blocked scan "
    "restricted to new-touching pairs — certifies incremental == "
    "batch-recompute bit-for-bit.",
    refs=("§2.12", "J2", "F1"),
)
def q_incremental_linkage(spark, sf_dir):
    from lakeflow.operators.linkage import incremental_linkage_pairs

    new, stored = _ilink_frames(spark, sf_dir)
    out = incremental_linkage_pairs(
        new, stored, "rid", block_keys=_ilink_blocks(), **_ILINK_KW
    )
    return out.select(
        F.col("rid_a"),
        F.col("rid_b"),
        "score_micros",
        F.when(F.col("match"), 1).otherwise(0).cast("int").alias("is_match"),
    )


def _ilink_state(spark, sf_dir: str):
    """Build-once-per-corpus STORED entity-assignment state for
    q_incremental_entities (r9 — the _ivf_assignments arrangement): in
    production the assignment table is PERSISTED and maintained
    (stream_entity_index); re-deriving it in-query re-ran the stored
    corpus's full linkage + components loop on every execution —
    17.6 s of the benched row's cost was this state rebuild, not the
    incremental step. Deterministic contents (seeded blocking,
    min-label components); content-fingerprinted key; build/race/
    eviction contract in ``caching.prebuilt_state``."""
    from lakeflow.caching import prebuilt_state, scoped_cache
    from lakeflow.operators.linkage import (
        incremental_linkage_pairs,
        resolve_entities,
    )

    key = _corpus_cache_key(sf_dir)

    def _build(tmp: str) -> None:
        _, stored = _ilink_frames(spark, sf_dir)
        with scoped_cache():
            stored_pairs = incremental_linkage_pairs(
                stored, stored.limit(0), "rid",
                block_keys=_ilink_blocks(), **_ILINK_KW
            ).filter("match")
            asgn = resolve_entities(
                stored_pairs, stored.select("rid"), "rid",
                left_id="rid_a", right_id="rid_b",
            )
            asgn.select("rid", "entity_id").write.mode("overwrite").parquet(tmp)

    return read_parquet(
        spark,
        prebuilt_state(f"/tmp/lakeflow_ilinkstate_{key}", _build),
    )


@query(
    "q_incremental_entities",
    oracle=f"""
    WITH RECURSIVE {_ILINK_U_CTE},
    m AS (
      SELECT c.ia, c.ib FROM cand c
      JOIN u l ON l.rid = c.ia
      JOIN u r ON r.rid = c.ib
      WHERE {_ILINK_SCORE} >= 550000),
    e AS (SELECT ia AS src, ib AS dst FROM m UNION SELECT ib, ia FROM m),
    reach AS (
      SELECT src AS id, src AS rt FROM e
      UNION
      SELECT e.src AS id, reach.rt FROM e JOIN reach ON e.dst = reach.id),
    lbl AS (SELECT id, MIN(rt) AS entity_id FROM reach GROUP BY id)
    SELECT COALESCE(lbl.entity_id, u.rid) AS entity_id,
           CAST(COUNT(*) AS BIGINT) AS n_records
    FROM u LEFT JOIN lbl ON lbl.id = u.rid
    GROUP BY 1
    """,
    description="Incremental entity-index maintenance (operators/"
    "linkage.incremental_resolve_entities): the persisted assignment "
    "table (components of the stored 6/7's own matches) folded with "
    "the new batch's incremental match pairs — components over batch "
    "pairs + stored STAR edges, never the historical pair set. The "
    "oracle recomputes the transitive closure over ALL match pairs of "
    "the full corpus, so a green row certifies that the star-edge "
    "encoding preserves components and min-labels exactly (including "
    "the bridge case where one new record merges two old entities) — "
    "incremental == batch-recompute. The stored assignment state is "
    "PREBUILT (content-fingerprinted /tmp parquet, the production "
    "persisted-table shape — r9), so the row times the incremental "
    "step, not a historical state rebuild. Streaming twin: "
    "streaming/corpus_intake.stream_entity_index (restart-tested).",
    refs=("§2.12", "J2"),
)
def q_incremental_entities(spark, sf_dir):
    from lakeflow.operators.linkage import (
        incremental_linkage_pairs,
        incremental_resolve_entities,
    )

    new, stored = _ilink_frames(spark, sf_dir)
    stored_asgn = _ilink_state(spark, sf_dir)  # prebuilt, maintained state
    new_pairs = incremental_linkage_pairs(
        new, stored, "rid", block_keys=_ilink_blocks(), **_ILINK_KW
    ).filter("match")
    updated = incremental_resolve_entities(
        new_pairs,
        stored_asgn,
        new.select("rid"),
        "rid",
    )
    return updated.groupBy("entity_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_records")
    )


def _qc_sql_parts():
    """Shared SQL fragments for the q_quality_classifier oracle,
    generated from the SAME feature mirror the operator exposes
    (operators/classifier.sql_text_features) so the two can't drift."""
    from lakeflow.operators.classifier import sql_text_features

    feats = sql_text_features("text")
    k = len(feats)
    fcols = ", ".join(f"{e} AS x{i}" for i, e in enumerate(feats))
    f_cte = (
        "f AS (SELECT doc_id, "
        "CASE WHEN source IN ('src1','src3') THEN 1 ELSE -1 END AS y, "
        f"{fcols} FROM documents)"
    )
    # epoch 1: w = 0, so the margin test y*(w.x) <= 0 holds for every
    # row — the first update is the plain class-difference sum
    u1 = (
        "u1 AS (SELECT "
        + ", ".join(
            f"CAST(SUM(y * x{i}) AS BIGINT) AS w{i}" for i in range(k)
        )
        + " FROM f)"
    )
    dot1 = " + ".join(f"w{i} * x{i}" for i in range(k))
    u2 = (
        "u2 AS (SELECT "
        + ", ".join(
            f"CAST(SUM(CASE WHEN y * ({dot1}) <= 0 THEN y * x{i} "
            f"ELSE 0 END) AS BIGINT) AS d{i}"
            for i in range(k)
        )
        + " FROM f CROSS JOIN u1)"
    )
    w_cte = (
        "w AS (SELECT "
        + ", ".join(f"w{i} + d{i} AS v{i}" for i in range(k))
        + " FROM u1 CROSS JOIN u2)"
    )
    dot_final = " + ".join(f"v{i} * x{i}" for i in range(k))
    return f_cte, u1, u2, w_cte, dot_final


_QC_F, _QC_U1, _QC_U2, _QC_W, _QC_DOT = _qc_sql_parts()


@query(
    "q_quality_classifier",
    oracle=f"""
    WITH {_QC_F},
    {_QC_U1},
    {_QC_U2},
    {_QC_W}
    SELECT doc_id, CAST({_QC_DOT} AS BIGINT) AS score,
           CASE WHEN {_QC_DOT} > 0 THEN 1 ELSE 0 END AS keep
    FROM f CROSS JOIN w
    """,
    description="TRAINABLE quality filter (operators/classifier."
    "fit_linear_filter + score_linear): the CCNet/fastText-style "
    "learned tier above the rule-based Gopher/C4 filters — weak "
    "labels (target-domain sources, the DSIR proxy), integer-micro "
    "text features, and a margin perceptron whose every epoch is ONE "
    "whole-corpus aggregate of exact long sums (no exp: IEEE exp is "
    "not correctly-rounded across engines, so logistic would break "
    "bit-parity; the perceptron needs only +/*/compare). Weights fold "
    "into a codegen projection for serving. The oracle replays BOTH "
    "training epochs in CTEs and scores every document — fit and "
    "serve certified bit-exact, the fs_em contract applied to "
    "classifier training.",
    refs=("§2.12", "A5", "F1"),
)
def q_quality_classifier(spark, sf_dir):
    from lakeflow.caching import maybe_persist
    from lakeflow.operators.classifier import (
        fit_linear_filter,
        score_linear,
        text_feature_micros,
    )

    d = load_table(spark, sf_dir, "documents")
    feats = text_feature_micros("text")
    labeled = maybe_persist(
        d.withColumn(
            "__y",
            F.when(F.col("source").isin("src1", "src3"), 1)
            .otherwise(-1)
            .cast("long"),
        ),
        None,  # two fit epochs + the scoring pass share the scan
    )
    w = fit_linear_filter(labeled, "__y", feats, n_epochs=2)
    out = score_linear(labeled, w, feats)
    return out.select(
        "doc_id",
        F.col("score").cast("long").alias("score"),
        F.when(F.col("keep"), 1).otherwise(0).cast("int").alias("keep"),
    )


@query(
    "q_containment_join",
    oracle=f"""
    WITH {_shingle_cte('documents')},
    dt AS (SELECT DISTINCT doc_id, s FROM ex),
    nd AS (SELECT * FROM dt WHERE doc_id % 50 = 0),
    nsz AS (SELECT doc_id, COUNT(*) AS nsz FROM nd GROUP BY doc_id),
    inter AS (
      SELECT n.doc_id AS nid, h.doc_id AS hid, COUNT(*) AS inter
      FROM nd n JOIN dt h ON n.s = h.s AND n.doc_id <> h.doc_id
      GROUP BY 1, 2)
    SELECT nid AS needle_doc_id, hid AS doc_doc_id,
           CAST(FLOOR(CAST(inter AS DOUBLE) / CAST(z.nsz AS DOUBLE)
                      * 1000000e0 + 0.5e0) AS BIGINT) AS containment_micros
    FROM inter JOIN nsz z ON z.doc_id = nid
    WHERE inter * 1000000 >= 600000 * z.nsz
    """,
    description="Exact set-CONTAINMENT join "
    "(operators/setsim.containment_join): every (needle, doc) pair "
    "where |N∩D|/|N| >= 0.6 over distinct 3-gram shingle sets — the "
    "decontamination/quote-detection asymmetry Jaccard cannot express "
    "(a benchmark prompt embedded verbatim in a long web page has "
    "near-zero Jaccard but containment 1.0). Needles = every 50th "
    "document, haystack = the whole corpus, both sides distributed. "
    "Candidates via the containment prefix filter (overlap >= "
    "ceil(t*|N|) forces a shared element in the needle's first "
    "|N|-ceil(t|N|)+1 rarest-first elements; only the needle side "
    "prefix-prunes — containment puts no length bound on the doc), "
    "rarest-first order from the union's doc frequency, verification "
    "one array_intersect per candidate against the two shuffle-free "
    "per-doc array relations. The oracle is the GROUND-TRUTH all-pairs "
    "scan, so a green row certifies the zero-false-negative guarantee.",
    refs=("§2.12",),
)
def q_containment_join(spark, sf_dir):
    from lakeflow.operators.setsim import containment_join

    d = load_table(spark, sf_dir, "documents")
    needles = d.filter(F.col("doc_id") % 50 == 0)
    out = containment_join(needles, d, "doc_id", "text", 600_000)
    return out.filter(F.col("needle_doc_id") != F.col("doc_doc_id"))


@query(
    "q_cdf_aggregate",
    oracle="""
    WITH final AS (
      SELECT CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
               AS grp,
             CAST(FLOOR(o_totalprice * 100e0 + 0.5e0) AS BIGINT)
               + CASE WHEN o_orderkey % 7 = 0 THEN 1000 ELSE 0 END AS cents
      FROM orders WHERE o_orderkey % 13 <> 0)
    SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM final GROUP BY grp
    """,
    description="Change-feed-maintained aggregate "
    "(streaming/cdf.advance_cdf_aggregate over sinks/txtable): a "
    "manifest-committed table goes through three versions — the orders "
    "snapshot, an upsert that both changes values AND moves rows "
    "across groups (every 7th order re-statused to 'X' with +1000 "
    "cents), and a delete of every 13th order — while an incremental "
    "consumer tails table_changes version-to-version, folding each "
    "delta's +new/-old retraction rows into a persisted per-group "
    "aggregate whose commit token IS the version cursor (atomic, "
    "replay-safe). The returned aggregate was never recomputed from a "
    "snapshot; the oracle computes the final state directly, so a "
    "green row certifies the retraction algebra (I/D/U, group moves, "
    "full-group retraction) end to end. At scale each advance "
    "processes |changes| rows — one co-located full outer join of two "
    "snapshots — never table history.",
    refs=("§2.12", "§2.10"),
)
def q_cdf_aggregate(spark, sf_dir):
    import shutil
    import tempfile

    from lakeflow.functions.exact import cents
    from lakeflow.sinks.txtable import delete_where, merge_upsert_table, write_table
    from lakeflow.streaming.cdf import advance_cdf_aggregate, read_cdf_aggregate

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("grp"),
        cents("o_totalprice").alias("cents"),
    )
    work = tempfile.mkdtemp(prefix="lakeflow_cdf_q_")
    shutil.rmtree(work)
    src = f"{work}/src"
    agg = f"{work}/agg"
    try:
        write_table(spark, o, src)  # v1
        advance_cdf_aggregate(spark, src, agg, ["k"], ["grp"], ["cents"])
        moved = o.filter(F.col("k") % 7 == 0).select(
            "k", F.lit("X").alias("grp"), (F.col("cents") + 1000).alias("cents")
        )
        merge_upsert_table(spark, moved, src, ["k"])  # v2: value + group moves
        advance_cdf_aggregate(spark, src, agg, ["k"], ["grp"], ["cents"])
        delete_where(spark, src, F.col("k") % 13 == 0)  # v3: retraction
        advance_cdf_aggregate(spark, src, agg, ["k"], ["grp"], ["cents"])
        out = read_cdf_aggregate(spark, agg).select(
            "grp",
            F.col("n").cast("long").alias("n"),
            F.col("sum_cents").cast("long").alias("sum_cents"),
        )
        # materialize before the temp dir goes away
        rows = out.collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, "grp string, n long, sum_cents long")


@query(
    "q_ks_drift",
    oracle="""
    WITH src AS (
      SELECT CAST(FLOOR(o_totalprice * 100e0 + 0.5e0) AS BIGINT) AS v,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS ia
      FROM orders),
    c AS (
      SELECT v, SUM(ia) AS ca, COUNT(*) - SUM(ia) AS cb
      FROM src GROUP BY v),
    cum AS (
      SELECT v, SUM(ca) OVER (ORDER BY v) AS cuma,
             SUM(cb) OVER (ORDER BY v) AS cumb
      FROM c),
    t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
                 CAST(SUM(cb) AS BIGINT) AS nb FROM c)
    SELECT na AS n_a, nb AS n_b,
           CAST((MAX(ABS(cuma * nb - cumb * na)) * 1000000) // (na * nb)
                AS BIGINT) AS ks_micros
    FROM cum, t
    GROUP BY na, nb
    """,
    description="Exact two-sample Kolmogorov-Smirnov drift statistic "
    "(operators/profile.ks_statistic): sup |F_a - F_b| between the "
    "urgent-priority orders' price distribution and the rest — the "
    "drift test with a decision theory (critical value "
    "c(alpha)*sqrt((na+nb)/(na*nb))), sharper than fixed-bin TVD when "
    "the drift is a shift bin edges straddle. One hash agg for "
    "per-distinct-value counts, CDFs via the DISTRIBUTED prefix sum "
    "(never a whole-corpus window task; the sup over the real line is "
    "attained at observed step points, so this is the exact supremum), "
    "integer cross-multiply comparison |cum_a*n_b - cum_b*n_a|, one "
    "decimal(38) integral division at the end — bit-identical across "
    "engines and partitionings.",
    refs=("§2.12", "A5"),
)
def q_ks_drift(spark, sf_dir):
    from lakeflow.functions.exact import cents
    from lakeflow.operators.profile import ks_statistic

    o = load_table(spark, sf_dir, "orders")
    return ks_statistic(
        o.select(cents("o_totalprice").alias("v"), "o_orderpriority"),
        "v",
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
    )


@query(
    "q_phrase_search",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents),
    tok AS (
      SELECT doc_id, unnest(t) AS token,
             unnest(generate_series(1, len(t))) AS ord
      FROM toks)
    SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM tok a
    JOIN tok b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
    JOIN tok c ON c.doc_id = a.doc_id AND c.ord = a.ord + 2
    WHERE a.token = 'row' AND b.token = 'column' AND c.token = 'sort'
    GROUP BY a.doc_id
    """,
    description="Exact phrase search over a positional inverted index "
    "(operators/index.build_positional_index + phrase_search): every "
    "document where the tokens 'row column sort' appear CONSECUTIVELY, "
    "with the occurrence count (overlapping starts counted). Each "
    "phrase token filters the index to its own posting rows (pushed to "
    "a persisted token-bucketed scan at scale), the k postings "
    "equi-join on doc_id, and adjacency is ONE codegen higher-order "
    "expression — start positions of the first token filtered by "
    "exists(positions_i, q == p + i) — so cost is the queried posting "
    "lists, never a corpus re-scan. The oracle replays the semantics "
    "as a k-way positional self-join on token order.",
    refs=("§2.12",),
)
def q_phrase_search(spark, sf_dir):
    from lakeflow.operators.index import build_positional_index, phrase_search

    d = load_table(spark, sf_dir, "documents")
    idx = build_positional_index(d)
    return phrase_search(idx, ["row", "column", "sort"])


@query(
    "q_slop_search",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents),
    tok AS (
      SELECT doc_id, unnest(t) AS token,
             unnest(generate_series(1, len(t))) AS ord
      FROM toks)
    SELECT a.doc_id,
           CAST(MIN(greatest(a.ord, b.ord, c.ord)
                    - least(a.ord, b.ord, c.ord)) AS BIGINT) AS min_span
    FROM tok a
    JOIN tok b ON b.doc_id = a.doc_id
    JOIN tok c ON c.doc_id = a.doc_id
    WHERE a.token = 'scan' AND b.token = 'merge' AND c.token = 'window'
    GROUP BY a.doc_id
    HAVING min_span <= 6
    """,
    description="Proximity (slop) search over the positional inverted "
    "index (operators/index.slop_search, VERDICT r7 task #8): every "
    "document where 'scan', 'merge' and 'window' all occur within a "
    "6-token window in ANY order, with the doc's tightest window "
    "(min over one-position-per-term tuples of max(p)-min(p)). Same "
    "posting-join shape as phrase_search with a RANGE predicate on "
    "positions instead of exact offsets: each term filters the index "
    "to its postings, the k postings equi-join on doc_id, and the "
    "window test is one codegen (min,max)-interval fold over the "
    "position arrays — per-doc cost is the product of the queried "
    "terms' tfs (bounded by doc length), never the corpus. The oracle "
    "replays the semantics as a k-way positional self-join (1-based "
    "ords; spans are differences, so the base cancels).",
    refs=("§2.12",),
)
def q_slop_search(spark, sf_dir):
    from lakeflow.operators.index import build_positional_index, slop_search

    d = load_table(spark, sf_dir, "documents")
    idx = build_positional_index(d)
    return slop_search(idx, ["scan", "merge", "window"], slop=6)


def _corpus_overlap_oracle(k: int = 32) -> str:
    from lakeflow.functions.hashing import sql_hash_slices

    seeds = tuple(f"cs{i}" for i in range(k // 4))
    slices = sql_hash_slices("s", seeds)
    ma = ", ".join(f"MIN({h}) AS mh{i}" for i, h in enumerate(slices))
    mb = ", ".join(f"MIN({h}) AS nb{i}" for i, h in enumerate(slices))
    match = " + ".join(
        f"(CASE WHEN ma.mh{i} = mb.nb{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    shingle = (
        "unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] "
        "for i in generate_series(1, greatest(len(t) - 2, 0))]) AS s"
    )
    return f"""
    WITH ta AS (SELECT {_SQL_TOKS} AS t FROM documents WHERE doc_id % 2 = 0),
    ea AS (SELECT {shingle} FROM ta),
    tb AS (SELECT {_SQL_TOKS} AS t FROM documents WHERE doc_id % 2 = 1),
    eb AS (SELECT {shingle} FROM tb),
    ma AS (SELECT {ma} FROM ea),
    mb AS (SELECT {mb} FROM eb),
    m AS (SELECT CAST({match} AS BIGINT) AS n_match FROM ma, mb)
    SELECT CAST({k} AS BIGINT) AS n_seeds, n_match,
           CAST((n_match * 1000000) // {k} AS BIGINT) AS jaccard_est_micros
    FROM m
    """


@query(
    "q_corpus_overlap",
    oracle=_corpus_overlap_oracle(32),
    description="Corpus-LEVEL shingle-set overlap estimate "
    "(operators/corpus.corpus_overlap_estimate, r8): the fraction of "
    "matching components between two corpora's one-row corpus-set "
    "minhash signatures estimates J(shingles(A), shingles(B)) with "
    "stderr ~ sqrt(J(1-J)/k) — the one-number 'how much do these "
    "corpora share' monitor (train-dump drift, source similarity) "
    "that doc-level similarity joins are overkill for. Each signature "
    "is ONE narrow tokenize+shingle pass + ONE map-side-combined "
    "global aggregate of k digest-slice minima (min is duplicate-"
    "insensitive: no distinct is ever paid); the comparison is a 1x1 "
    "join — at 100 TB this touches every shingle once and shuffles k "
    "longs. Deterministic (seeded md5-slice hashes, exact integer "
    "estimate), so the DuckDB oracle replays it bit-for-bit.",
    refs=("§2.12", "A5"),
)
def q_corpus_overlap(spark, sf_dir):
    from lakeflow.operators.corpus import corpus_overlap_estimate

    d = load_table(spark, sf_dir, "documents")
    return corpus_overlap_estimate(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
        "text",
        k=32,
    )


@query(
    "q_chi2_drift",
    oracle="""
    WITH b AS (
      SELECT least(CAST(FLOOR(value / 50e0) AS BIGINT), 9) AS bin,
             CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS ia
      FROM events),
    c AS (
      SELECT bin, CAST(SUM(ia) AS BIGINT) AS ca,
             CAST(COUNT(*) - SUM(ia) AS BIGINT) AS cb
      FROM b GROUP BY bin),
    t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
                 CAST(SUM(cb) AS BIGINT) AS nb FROM c),
    terms AS (
      SELECT na, nb, (ca * 1000000) // na AS p, (cb * 1000000) // nb AS q
      FROM c, t)
    SELECT na AS n_a, nb AS n_b,
           CAST(SUM(CASE WHEN p + q > 0
                         THEN ((p - q) * (p - q)) // (p + q)
                         ELSE 0 END) AS BIGINT) AS chi2_micros
    FROM terms GROUP BY na, nb
    """,
    description="Exact chi-squared DISTANCE drift statistic "
    "(operators/profile.chi2_distance, r8): sum((p-q)^2/(p+q)) over "
    "the same fixed value bins and first-half/second-half split as "
    "q_drift_tvd — the third member of the drift family, up-weighting "
    "RARE-bin changes that TVD (plain L1) barely moves on and KS (a "
    "CDF sup) only sees when the rare mass is order-adjacent. One "
    "map-side-combined hash aggregate for per-bin counts, integer "
    "micro proportions, and per-bin terms in pure bounded BIGINT "
    "algebra summed order-independently — bit-identical across "
    "engines; raw Pearson chi^2 was rejected because its "
    "(a*n_b - b*n_a)^2 cross-multiply overflows decimal(38) near "
    "1e12-row samples, while the distance form never leaves BIGINT.",
    refs=("§2.12", "A5"),
)
def q_chi2_drift(spark, sf_dir):
    from lakeflow.functions.exact import lit_ts
    from lakeflow.operators.profile import chi2_distance

    ev = load_table(spark, sf_dir, "events")
    binned = ev.select(
        F.least(
            F.floor(F.col("value") / F.lit(50.0)).cast("long"), F.lit(9)
        ).alias("bin"),
        (F.col("ts") < lit_ts(ev, "ts", "2024-01-16")).alias("ia"),
    )
    return chi2_distance(binned, "bin", F.col("ia"))


@query(
    "q_grouped_ks",
    oracle="""
    WITH src AS (
      SELECT event_type, CAST(FLOOR(value * 100e0 + 0.5e0) AS BIGINT) AS v,
             CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS ia
      FROM events),
    c AS (
      SELECT event_type, v, CAST(SUM(ia) AS BIGINT) AS ca,
             CAST(COUNT(*) - SUM(ia) AS BIGINT) AS cb
      FROM src GROUP BY event_type, v),
    cum AS (
      SELECT event_type, v,
             SUM(ca) OVER (PARTITION BY event_type ORDER BY v) AS cuma,
             SUM(cb) OVER (PARTITION BY event_type ORDER BY v) AS cumb
      FROM c),
    t AS (SELECT event_type, CAST(SUM(ca) AS BIGINT) AS na,
                 CAST(SUM(cb) AS BIGINT) AS nb
          FROM c GROUP BY event_type)
    SELECT t.event_type, na AS n_a, nb AS n_b,
           CAST((MAX(ABS(cuma * nb - cumb * na)) * 1000000) // (na * nb)
                AS BIGINT) AS ks_micros
    FROM cum JOIN t ON cum.event_type = t.event_type
    WHERE na > 0 AND nb > 0
    GROUP BY t.event_type, na, nb
    """,
    description="Per-GROUP exact two-sample KS drift "
    "(operators/profile.grouped_ks_statistic, r8): for every "
    "event_type, the KS statistic between the first and second half "
    "of the stream's value distribution — the fleet monitor that "
    "answers WHICH groups drifted, not just whether the corpus did. "
    "Per-(group, value) counts in one hash aggregate, per-group CDFs "
    "from the distributed bucketed prefix sum (a hot group spreads "
    "across partial buckets, never one task), integer cross-multiply "
    "sup, one decimal(38) division per group. Groups with an empty "
    "side are DROPPED (undefined), not job-killing — deliberately "
    "unlike the single-pair ks_statistic's loud assert.",
    refs=("§2.12", "A5"),
)
def q_grouped_ks(spark, sf_dir):
    from lakeflow.functions.exact import lit_ts
    from lakeflow.operators.profile import grouped_ks_statistic

    ev = load_table(spark, sf_dir, "events")
    src = ev.select(
        "event_type",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).alias("v"),
        (F.col("ts") < lit_ts(ev, "ts", "2024-01-16")).alias("ia"),
    )
    return grouped_ks_statistic(src, "event_type", "v", F.col("ia"))


@query(
    "q_int8_quantize",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings),
    xs AS (SELECT unnest(v) AS x,
                  unnest(generate_series(1, len(v))) AS dd FROM e),
    v AS (SELECT dd - 1 AS dim, x FROM xs),
    s AS (SELECT dim, MAX(abs(x)) AS m FROM v GROUP BY dim),
    err AS (
      SELECT v.dim, m,
             abs(x * 127 -
                 (CASE WHEN m > 0 THEN
                    (CASE WHEN x < 0 THEN -1 ELSE 1 END)
                    * ((abs(x) * 254 + m) // (2 * m))
                  ELSE 0 END) * m) AS err127
      FROM v JOIN s USING (dim))
    SELECT CAST(dim AS BIGINT) AS dim, CAST(m AS BIGINT) AS scale_micros,
           CAST(MAX(err127) // 127 AS BIGINT) AS max_err_micros,
           CAST(SUM(err127) // 127 AS BIGINT) AS sum_err_micros
    FROM err GROUP BY dim, m
    """,
    description="Int8 scalar quantization quality profile "
    "(operators/quant.int8_reconstruction_error, r8): per-dimension "
    "symmetric max-abs scales and the exact reconstruction error of "
    "the int8 roundtrip — the 4x-smaller-embedding-scan contract, "
    "measured. One narrow posexplode + a <=dim-key hash agg for "
    "scales, a broadcast re-join for the error pass; codes are "
    "sign(x)*round-half-away(|x|*127/scale) in pure integer algebra "
    "on the micro-int vectors, and errors are carried in 127ths-of-a-"
    "micro (exact longs) so max/sum aggregate order-independently — "
    "bit-identical across engines.",
    refs=("§2.12",),
)
def q_int8_quantize(spark, sf_dir):
    from lakeflow.operators.quant import int8_reconstruction_error

    emb = load_table(spark, sf_dir, "embeddings")
    return int8_reconstruction_error(emb)


@query(
    "q_int8_recall",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings),
    xs AS (SELECT unnest(v) AS x,
                  unnest(generate_series(1, len(v))) AS dim FROM e),
    s AS (SELECT dim, MAX(abs(x)) AS m FROM xs GROUP BY dim),
    sm AS (SELECT list(m ORDER BY dim) AS marr FROM s),
    d AS (
      SELECT vec_id,
             [CASE WHEN marr[i] = 0 THEN 0 ELSE
                (CASE WHEN v[i] < 0 THEN -1 ELSE 1 END)
                * ((((abs(v[i]) * 254 + marr[i]) // (2 * marr[i])) * marr[i])
                   // 127)
              END for i in generate_series(1, len(v))] AS dv
      FROM e, sm),
    en AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),
    eq AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2 FROM en
           WHERE vec_id < 8),
    es AS (
      SELECT q.q_id, n.vec_id,
             CAST(FLOOR(list_dot_product(n.v, q.qv)
                        / (sqrt(n.n2) * sqrt(q.qn2))
                        * 1000000e0 + 0.5e0) AS BIGINT) AS cm
      FROM en n JOIN eq q ON n.vec_id <> q.q_id),
    etop AS (SELECT q_id, vec_id FROM (
      SELECT *, row_number() OVER (
        PARTITION BY q_id ORDER BY cm DESC, vec_id) AS rnk FROM es)
      WHERE rnk <= 10),
    dn AS (SELECT vec_id, dv, list_dot_product(dv, dv) AS n2 FROM d),
    dq AS (SELECT vec_id AS q_id, dv AS qv, n2 AS qn2 FROM dn
           WHERE vec_id < 8),
    ds AS (
      SELECT q.q_id, n.vec_id,
             CAST(FLOOR(list_dot_product(n.dv, q.qv)
                        / (sqrt(n.n2) * sqrt(q.qn2))
                        * 1000000e0 + 0.5e0) AS BIGINT) AS cm
      FROM dn n JOIN dq q ON n.vec_id <> q.q_id),
    dtop AS (SELECT q_id, vec_id FROM (
      SELECT *, row_number() OVER (
        PARTITION BY q_id ORDER BY cm DESC, vec_id) AS rnk FROM ds)
      WHERE rnk <= 10)
    SELECT e.q_id, CAST(10 AS BIGINT) AS k_requested,
           CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlap,
           CAST((SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                 * 1000000) // 10 AS BIGINT) AS recall_micros
    FROM etop e LEFT JOIN dtop d
      ON d.q_id = e.q_id AND d.vec_id = e.vec_id
    GROUP BY e.q_id
    """,
    description="Int8 quantized-index recall contract "
    "(operators/quant.int8_topk_recall, r8): exact cosine top-10 on "
    "the float vectors vs cosine top-10 over the int8 "
    "quantize-dequantize roundtrip, overlap per query — the recall "
    "number that justifies serving ANN from the 4x-smaller codes "
    "scan. Both sides are corpus-scan x broadcast(queries) through "
    "the bounded two-phase top-k with the (cos desc, id) tie-break; "
    "the dequant stays in micro units precisely so dot products stay "
    "below 2^53 on BOTH engines (DuckDB's list_dot_product runs in "
    "doubles; the un-divided c*scale form would silently de-sync the "
    "oracle). Zero-overlap queries survive via a hit-flag left join, "
    "never a bare semi-join group-by.",
    refs=("§2.12",),
)
def q_int8_recall(spark, sf_dir):
    from lakeflow.operators.quant import int8_topk_recall

    emb = load_table(spark, sf_dir, "embeddings")
    return int8_topk_recall(emb, F.col("vec_id") < 8, k=10)


@query(
    "q_pca_gram",
    oracle=f"""
    WITH e AS (SELECT {_SQL_VEC} AS v FROM embeddings),
    x AS (SELECT unnest(v) AS xi,
                 unnest(generate_series(1, len(v))) AS i, v FROM e),
    p AS (SELECT i, unnest(generate_series(i, len(v))) AS j, xi, v FROM x),
    s AS (SELECT i - 1 AS i, j - 1 AS j, COUNT(*) AS n,
                 SUM(xi * v[j]) AS s FROM p GROUP BY 1, 2)
    SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
           CAST(n AS BIGINT) AS n,
           CAST(CASE WHEN s < 0 THEN -((-s) // n) ELSE s // n END
                AS BIGINT) AS mean_micro2
    FROM s
    """,
    description="Distributed PCA sufficient statistics "
    "(operators/pca.gram_means, r8): the upper triangle of the exact "
    "second-moment matrix of the micro-int embedding column — the ONE "
    "corpus-scan half of the fit/serve split whose driver half "
    "(pca_fit: 64x64 eigh over these collected statistics, integer-"
    "quantized components back into the plan) is bounded at any "
    "corpus size. One posexplode + (2+dim) aggregate expressions over "
    "<= dim group keys (map-side combined — NOT the dim^2-row explode "
    "or the dim^2-column agg, both of which leave the codegen field "
    "budget); sums accumulate in DECIMAL(38,0) because 1e12-row "
    "corpora overflow BIGINT at micro^2 magnitudes, and the OUTPUT is "
    "the truncated per-row mean, whose magnitude is bounded by "
    "max|x_i*x_j| independent of corpus size — the BIGINT-safe "
    "surface of a DECIMAL accumulation, sign-split around the "
    "division so both engines truncate identically.",
    refs=("§2.12",),
)
def q_pca_gram(spark, sf_dir):
    from lakeflow.operators.pca import gram_means

    emb = load_table(spark, sf_dir, "embeddings")
    return gram_means(emb)


def _hll_oracle() -> str:
    from lakeflow.operators.sketches import sql_hll_distinct

    return sql_hll_distinct("user_id", "events", ["event_type"])


def _retrieval_metrics_oracle() -> str:
    from lakeflow.operators.metrics import sql_retrieval_quality

    return sql_retrieval_quality(k=10, query_filter="vec_id < 8")


@query(
    "q_retrieval_metrics",
    oracle=_retrieval_metrics_oracle(),
    description="Ranked-retrieval quality metrics "
    "(operators/metrics.retrieval_quality, r8): per query, hits@10, "
    "MRR, DCG and nDCG of exact cosine top-10 against same-label "
    "relevance — the measuring stick for the retrieval stack "
    "(recall@k says how many items an index change moved; nDCG says "
    "whether RANKING quality moved). The 1/log2(rank+1) discount is "
    "quantized to a literal per-rank micro table shared by plan and "
    "oracle, and ideal DCG is the literal prefix sum indexed at "
    "min(corpus relevant, k) — the one transcendental becomes a "
    "k-entry constant, so everything aggregates as exact integers. "
    "Ranking is the corpus-scan x broadcast(queries) top-k; scoring "
    "joins the |Q|*k ranking (broadcast) against the corpus label "
    "projection once — evaluation costs one ranking, scoring is "
    "free. Zero-hit queries keep their row (every query owns exactly "
    "k ranking rows).",
    refs=("§2.12",),
)
def q_retrieval_metrics(spark, sf_dir):
    from lakeflow.operators.metrics import retrieval_quality

    emb = load_table(spark, sf_dir, "embeddings")
    return retrieval_quality(emb, F.col("vec_id") < 8, k=10)


@query(
    "q_hll_distinct",
    oracle=_hll_oracle(),
    description="Portable HyperLogLog distinct-count sketch "
    "(operators/sketches.hll_distinct, r8): per-event-type distinct "
    "users as OPEN register rows — unlike the built-in "
    "approx_count_distinct (q_approx_distinct), this sketch is a "
    "first-class maintained aggregate: registers persist as a plain "
    "(group, bucket, rho) table, MAX-merge incrementally from a "
    "stream (corpus_intake.stream_hll — idempotent, replay-safe with "
    "no commit token), and any engine replays them. ONE map-side-"
    "combined hash aggregate over (group, bucket) — 256 rows per "
    "group at any corpus size, no distinct ever materialized; rho "
    "from the minimal-binary-string length of the seeded md5-slice "
    "hash's upper 52 bits (identical bin() semantics on both "
    "engines), estimate = one integer division of a 27-digit literal "
    "numerator — bit-identical across engines. Output is the raw "
    "estimate plus the zero-register count; the driver-side linear-"
    "counting correction (sketches.corrected_estimate) is read-path "
    "only, so no transcendental enters the comparison.",
    refs=("§2.12", "A5"),
)
def q_hll_distinct(spark, sf_dir):
    from lakeflow.operators.sketches import hll_distinct

    ev = load_table(spark, sf_dir, "events")
    return hll_distinct(ev, "user_id", ["event_type"])


@query(
    "q_exact_quantiles",
    oracle="""
    WITH c AS (
      SELECT event_type,
             CAST(FLOOR(value * 100e0 + 0.5e0) AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    cum AS (
      SELECT event_type, v, n,
             SUM(n) OVER (PARTITION BY event_type ORDER BY v) AS cum
      FROM c),
    t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS N
          FROM c GROUP BY 1),
    p AS (SELECT unnest([500000, 900000, 990000]) AS p_micros)
    SELECT cum.event_type,
           CAST(p.p_micros AS BIGINT) AS p_micros,
           CAST(MIN(CASE WHEN cum.cum * 1000000 >= p.p_micros * t.N
                         THEN cum.v END) AS BIGINT) AS value,
           t.N AS n_total
    FROM cum JOIN t USING (event_type) CROSS JOIN p
    GROUP BY 1, 2, t.N
    """,
    description="Exact per-group quantiles from value counts "
    "(operators/profile.quantiles_from_value_counts, r8): p50/p90/p99 "
    "of the event value per event type with percentile_disc semantics "
    "— smallest value whose cumulative count reaches ceil(p*N) — "
    "derived from a per-(group, value) COUNTS relation, not row data. "
    "That counts-in shape is the point: the same incrementally-"
    "maintained counts table that serves the KS and chi-squared drift "
    "monitors serves exact quantiles at read time "
    "(streaming/cdf.read_cdf_quantiles — four statistics, one "
    "maintained table), unlike the built-in percentile()/"
    "approx_percentile which must see rows. Cumulative counts from "
    "the distributed bucketed prefix sum (a hot group spreads across "
    "partial buckets, never one task); the ceil test is an integer "
    "cross-multiply in DECIMAL(38,0) (exact past 2^63-row groups); "
    "the per-probability pick is a MIN aggregate — order-independent "
    "and bit-identical across engines.",
    refs=("§2.12", "A5"),
)
def q_exact_quantiles(spark, sf_dir):
    from lakeflow.functions.exact import cents
    from lakeflow.operators.profile import quantiles_from_value_counts

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type", cents("value").alias("v")
    ).agg(F.count(F.lit(1)).alias("n"))
    return quantiles_from_value_counts(
        counts, "v", "n", [0.5, 0.9, 0.99], "event_type"
    )


@query(
    "q_loghist_quantiles",
    oracle="""
    WITH v AS (SELECT event_type,
                      CAST(FLOOR(value * 1000000e0 + 0.5e0) AS BIGINT) AS v
               FROM events),
    k AS (SELECT event_type,
            CASE WHEN v = 0 THEN 0 ELSE
              (CASE WHEN v < 0 THEN -1 ELSE 1 END) *
              (CAST(length(bin(abs(v))) AS BIGINT) * 4096 +
               CAST(((abs(v) - (1::BIGINT << (length(bin(abs(v))) - 1)))::HUGEINT
                     * 4096)
                    // (1::BIGINT << (length(bin(abs(v))) - 1)) AS BIGINT))
            END AS key
          FROM v),
    c AS (SELECT event_type, key, CAST(COUNT(*) AS BIGINT) AS n
          FROM k GROUP BY 1, 2),
    cum AS (SELECT event_type, key, n,
                   SUM(n) OVER (PARTITION BY event_type ORDER BY key) AS cum
            FROM c),
    t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS N FROM c GROUP BY 1),
    p AS (SELECT unnest([500000, 900000, 990000]) AS p_micros),
    sel AS (SELECT cum.event_type, CAST(p.p_micros AS BIGINT) AS p_micros,
                   MIN(CASE WHEN cum.cum * 1000000 >= p.p_micros * t.N
                            THEN cum.key END) AS key,
                   t.N AS n_total
            FROM cum JOIN t USING (event_type) CROSS JOIN p
            GROUP BY 1, 2, t.N)
    SELECT event_type, p_micros,
           CASE WHEN key = 0 THEN 0 ELSE
             (CASE WHEN key < 0 THEN -1 ELSE 1 END) *
             ((1::BIGINT << CAST(abs(key) // 4096 - 1 AS INTEGER)) +
              CAST(((abs(key) % 4096)::HUGEINT
                    * (1::BIGINT << CAST(abs(key) // 4096 - 1 AS INTEGER)))
                   // 4096 AS BIGINT))
           END AS approx_micros,
           n_total
    FROM sel
    """,
    description="Mergeable log-histogram QUANTILE SKETCH "
    "(operators/sketches.loghist_*, r9): p50/p90/p99 of the event "
    "value per event type from a bounded additive counts table — the "
    "quantile sibling of the portable HLL (cardinality) and CMS "
    "(frequency) sketches, for value domains too large for "
    "q_exact_quantiles' exact CDF counts. Each power-of-two magnitude "
    "bucket splits into 4096 linear sub-bins (key space O(64*4096) "
    "regardless of data; relative error <= 1/4096 GUARANTEED, unlike "
    "KLL/t-digest whose randomness/order-dependence breaks "
    "cross-engine replay); bit_length via length(bin(x)) — identical "
    "on both engines, the HLL rho precedent; sub-bin splits in "
    "DECIMAL(38,0)/HUGEINT; selection is the certified "
    "percentile_disc machinery over the MONOTONE keys; merge = SUM "
    "(streaming maintainer stream_loghist under the CMS commit-token "
    "contract). The oracle replays bins, selection and decode "
    "bit-for-bit.",
    refs=("§2.12", "A5"),
)
def q_loghist_quantiles(spark, sf_dir):
    from lakeflow.functions.exact import micros
    from lakeflow.operators.sketches import loghist_counts, loghist_quantiles

    ev = load_table(spark, sf_dir, "events")
    counts = loghist_counts(
        ev.select("event_type", micros("value").alias("v")), "v", ["event_type"]
    )
    return loghist_quantiles(counts, [0.5, 0.9, 0.99], "event_type")


@query(
    "q_grouped_loghist",
    oracle="""
    WITH v AS (SELECT source, lang, n_chars AS v FROM documents),
    k AS (SELECT source, lang,
            CASE WHEN v = 0 THEN 0 ELSE
              (CASE WHEN v < 0 THEN -1 ELSE 1 END) *
              (CAST(length(bin(abs(v))) AS BIGINT) * 4096 +
               CAST(((abs(v) - (1::BIGINT << (length(bin(abs(v))) - 1)))::HUGEINT
                     * 4096)
                    // (1::BIGINT << (length(bin(abs(v))) - 1)) AS BIGINT))
            END AS key
          FROM v),
    c AS (SELECT source, lang, key, CAST(COUNT(*) AS BIGINT) AS n
          FROM k GROUP BY 1, 2, 3),
    cum AS (SELECT source, lang, key, n,
                   SUM(n) OVER (PARTITION BY source, lang ORDER BY key) AS cum
            FROM c),
    t AS (SELECT source, lang, CAST(SUM(n) AS BIGINT) AS N
          FROM c GROUP BY 1, 2),
    p AS (SELECT unnest([500000, 900000, 990000]) AS p_micros),
    sel AS (SELECT cum.source, cum.lang,
                   CAST(p.p_micros AS BIGINT) AS p_micros,
                   MIN(CASE WHEN cum.cum * 1000000 >= p.p_micros * t.N
                            THEN cum.key END) AS key,
                   t.N AS n_total
            FROM cum JOIN t USING (source, lang) CROSS JOIN p
            GROUP BY 1, 2, 3, t.N)
    SELECT source, lang, p_micros,
           CASE WHEN key = 0 THEN 0 ELSE
             (CASE WHEN key < 0 THEN -1 ELSE 1 END) *
             ((1::BIGINT << CAST(abs(key) // 4096 - 1 AS INTEGER)) +
              CAST(((abs(key) % 4096)::HUGEINT
                    * (1::BIGINT << CAST(abs(key) // 4096 - 1 AS INTEGER)))
                   // 4096 AS BIGINT))
           END AS approx_micros,
           n_total
    FROM sel
    """,
    description="GROUPED log-histogram quantile sketch (VERDICT r9 "
    "task #5 — the fleet-monitor form completing the family symmetry "
    "with grouped_ks_statistic / grouped_chi2_distance / the grouped "
    "exact quantiles): p50/p90/p99 of document length per "
    "(source, lang) — WHICH corpus slices' length distribution "
    "shifted, not just whether the corpus's did — from ONE "
    "per-(group, key) hash aggregate over the scan (key space "
    "O(64*4096) per group) and per-group percentile_disc selection "
    "via the bucketed-prefix-sum machinery, multi-column groups "
    "packed into one struct key (operators/profile."
    "quantiles_from_value_counts, extended r10). Same additive/"
    "mergeable counts relation as q_loghist_quantiles — "
    "merge = SUM per (group, key), streaming maintenance under the "
    "CMS commit-token contract. The oracle replays bins, per-group "
    "selection and decode bit-for-bit.",
    refs=("§2.12", "A5"),
)
def q_grouped_loghist(spark, sf_dir):
    from lakeflow.operators.sketches import loghist_counts, loghist_quantiles

    d = load_table(spark, sf_dir, "documents")
    counts = loghist_counts(
        d.select("source", "lang", F.col("n_chars").alias("v")),
        "v",
        ["source", "lang"],
    )
    return loghist_quantiles(counts, [0.5, 0.9, 0.99], ["source", "lang"])


@query(
    "q_snapshot_staleness",
    oracle=f"""
    WITH tk AS (SELECT doc_id, unnest({_SQL_TOKS}) AS term
                FROM documents WHERE doc_id % 3 <> 0),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tk WHERE term <> '' GROUP BY 1, 2),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    u AS (SELECT doc_id, term, df, (tf * 1000000) // df AS u
          FROM tf JOIN df USING (term)),
    n2u AS (SELECT doc_id, SUM(CAST(u * u AS HUGEINT)) AS n2u
            FROM u GROUP BY 1),
    w2 AS (SELECT doc_id, term, df
           FROM (SELECT u.doc_id, u.term, u.df,
                        CAST(FLOOR(CAST(u.u AS DOUBLE) * 1000000e0
                                   / sqrt(CAST(n2u.n2u AS DOUBLE)) + 0.5e0)
                             AS BIGINT) AS w
                 FROM u JOIN n2u USING (doc_id))
           WHERE w > 0),
    snap AS (SELECT term, MAX(df) AS sdf FROM w2 GROUP BY 1),
    btk AS (SELECT doc_id, unnest({_SQL_TOKS}) AS term
            FROM documents WHERE doc_id % 3 = 0),
    probe AS (SELECT b.doc_id, b.term, s.sdf
              FROM (SELECT DISTINCT doc_id, term FROM btk WHERE term <> '') b
              LEFT JOIN snap s USING (term)),
    obs AS (SELECT CAST(length(bin(COALESCE(sdf, 1))) AS BIGINT) AS bk,
                   CAST(COUNT(*) AS BIGINT) AS nb
            FROM probe GROUP BY 1),
    expd AS (SELECT CAST(length(bin(df)) AS BIGINT) AS bk,
                    CAST(COUNT(*) AS BIGINT) AS na
             FROM w2 GROUP BY 1),
    pb AS (SELECT COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
           FROM expd e FULL OUTER JOIN obs o ON e.bk = o.bk),
    tot AS (SELECT CAST(SUM(na) AS BIGINT) AS n_snapshot,
                   CAST(SUM(nb) AS BIGINT) AS n_batch FROM pb),
    terms AS (SELECT (na * 1000000) // t.n_snapshot AS p,
                     (nb * 1000000) // t.n_batch AS q
              FROM pb CROSS JOIN tot t),
    chi AS (SELECT CAST(SUM(CASE WHEN p + q > 0
                                 THEN ((p - q) * (p - q)) // (p + q)
                                 ELSE 0 END) AS BIGINT) AS chi2_micros
            FROM terms),
    uns AS (SELECT CAST((SUM(CASE WHEN sdf IS NULL THEN 1 ELSE 0 END)
                         * 1000000) // COUNT(*) AS BIGINT) AS unseen_ppm
            FROM probe)
    SELECT tot.n_snapshot, tot.n_batch, uns.unseen_ppm, chi.chi2_micros,
           CAST(CASE WHEN uns.unseen_ppm > 100000 OR chi.chi2_micros > 100000
                     THEN 1 ELSE 0 END AS BIGINT) AS rebuild
    FROM tot CROSS JOIN uns CROSS JOIN chi
    """,
    description="Snapshot STALENESS monitor for the incremental "
    "index tiers (VERDICT r9 task #4 — the missing piece of the "
    "incremental story: the frozen df snapshot the APSS tier scores "
    "against has a documented rebuild-periodically contract but "
    "nothing measured when a rebuild is due): two cheap integer "
    "drift statistics between the frozen snapshot and a live batch — "
    "unseen_ppm, the rate at which snapshot_weights' conservative "
    "df=1 fallback actually fires (new vocabulary), and "
    "chi2_micros, the exact chi-squared distance "
    "(profile.chi2_from_bin_counts) between snapshot and batch "
    "(doc, term) occupancy over log2(df) magnitude buckets "
    "(redistribution drift with zero new vocabulary) — plus an "
    "auto_optimize-style threshold trigger: rebuild=1 tells the "
    "caller to re-run apss_index_fit. Per-batch cost is one pass "
    "over the batch's tokens + a term-keyed join against the bounded "
    "per-term snapshot; <= ~40 buckets of integer algebra after. "
    "Here the snapshot is built on docs with doc_id%3<>0 and the "
    "probe batch is doc_id%3=0 (same synthetic distribution, so the "
    "stable corpus does NOT trip the trigger; "
    "tests/test_setsim.py proves a drifted one does). "
    "(operators/apss.snapshot_staleness)",
    refs=("§2.12",),
)
def q_snapshot_staleness(spark, sf_dir):
    from lakeflow.caching import maybe_persist
    from lakeflow.operators.apss import snapshot_staleness, weighted_terms

    docs = load_table(spark, sf_dir, "documents")
    stored = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    # the snapshot relation feeds both the per-term df map and the
    # bucket-occupancy side — persist across the branches (the
    # q_data_selection precedent) so the weight pipeline runs once
    sw = maybe_persist(weighted_terms(stored, "doc_id", "text"), None)
    return snapshot_staleness(batch, sw, "doc_id", "text")


def _band_staleness_oracle() -> str:
    h = SQL_SEEDED_HASH.format(seed="sim", x="tok")
    votes = ", ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(16)
    )
    bits = " + ".join(
        f"(CASE WHEN b{j} >= 0 THEN {1 << j} ELSE 0 END)" for j in range(16)
    )

    def side(pred: str) -> str:
        return f"""(
      SELECT CAST(({bits}) % 64 AS BIGINT) AS band FROM (
        SELECT doc_id, {votes} FROM (
          SELECT doc_id, {h} AS h FROM (
            SELECT DISTINCT doc_id, tok FROM (
              SELECT doc_id, unnest({_SQL_TOKS}) AS tok
              FROM documents WHERE {pred})))
        GROUP BY doc_id))"""

    return f"""
    WITH sa AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS na
                FROM {side("doc_id % 3 <> 0")} GROUP BY 1),
    sb AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS nb
           FROM {side("doc_id % 3 = 0")} GROUP BY 1),
    pb AS (SELECT COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
           FROM sa FULL OUTER JOIN sb ON sa.band = sb.band),
    tot AS (SELECT CAST(SUM(na) AS BIGINT) AS n_stored,
                   CAST(SUM(nb) AS BIGINT) AS n_batch FROM pb),
    terms AS (SELECT (na * 1000000) // t.n_stored AS p,
                     (nb * 1000000) // t.n_batch AS q
              FROM pb CROSS JOIN tot t),
    chi AS (SELECT CAST(SUM(CASE WHEN p + q > 0
                                 THEN ((p - q) * (p - q)) // (p + q)
                                 ELSE 0 END) AS BIGINT) AS chi2_micros
            FROM terms)
    SELECT tot.n_stored, tot.n_batch, chi.chi2_micros,
           CAST(CASE WHEN chi.chi2_micros > 100000 THEN 1 ELSE 0 END
                AS BIGINT) AS rebuild
    FROM tot CROSS JOIN chi
    """


@query(
    "q_band_staleness",
    oracle=_band_staleness_oracle(),
    description="Frozen-PARTITIONING occupancy drift monitor "
    "(operators/profile.occupancy_staleness, r10 — the discrete-bucket "
    "sibling of q_snapshot_staleness, completing the staleness family "
    "across the index types VERDICT r9 named: df snapshot, LSH bands, "
    "semantic/IVF cells): exact chi-squared distance between the "
    "STORED corpus's and a live batch's occupancy of the 64 SimHash "
    "band buckets (the banding the LSH candidate generator joins on), "
    "plus the auto_optimize-style rebuild trigger — hot buckets blow "
    "up candidate generation quadratically, and occupancy is the one "
    "statistic every bucketed index already exposes as a bounded "
    "relation. Two bounded hash aggregates + <= 64 integer bucket "
    "rows per probe; the same function monitors IVF/semantic cell "
    "occupancy from the persisted ivf_assign relation "
    "(tests/test_trend_gaps.py exercises that application against a "
    "shifted batch). The oracle replays simhash, banding, occupancy "
    "and the chi2/trigger algebra bit-for-bit.",
    refs=("§2.12",),
)
def q_band_staleness(spark, sf_dir):
    from lakeflow.caching import maybe_persist
    from lakeflow.operators.profile import occupancy_staleness
    from lakeflow.operators.text import simhash16

    docs = load_table(spark, sf_dir, "documents")
    band = lambda side: simhash16(side, "doc_id", "text").select(  # noqa: E731
        (F.col("simhash") % 64).alias("band")
    )
    # persist both band relations (the q_data_selection precedent):
    # chi2_from_bin_counts consumes the occupancy relation twice
    # (totals + per-bin terms), and without the persist each
    # consumption re-runs BOTH simhash pipelines — measured 3.8 s vs
    # ~1 s at sf0.1
    stored = maybe_persist(band(docs.filter(F.col("doc_id") % 3 != 0)), None)
    batch = maybe_persist(band(docs.filter(F.col("doc_id") % 3 == 0)), None)
    return occupancy_staleness(stored, batch, "band")


@query(
    "q_apss_join",
    oracle=f"""
    WITH tk AS (SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tk WHERE term <> '' GROUP BY 1, 2),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    u AS (SELECT doc_id, term, (tf * 1000000) // df AS u
          FROM tf JOIN df USING (term)),
    n2u AS (SELECT doc_id, SUM(CAST(u * u AS HUGEINT)) AS n2u
            FROM u GROUP BY 1),
    w AS (SELECT doc_id, term,
                 CAST(FLOOR(CAST(u AS DOUBLE) * 1000000e0
                            / sqrt(CAST(n2u AS DOUBLE)) + 0.5e0)
                      AS BIGINT) AS w
          FROM u JOIN n2u USING (doc_id)),
    w2 AS (SELECT * FROM w WHERE w > 0),
    n2 AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2
           FROM w2 GROUP BY 1),
    d AS (SELECT a.doc_id AS pa, b.doc_id AS pb,
                 CAST(SUM(a.w * b.w) AS BIGINT) AS dot
          FROM w2 a JOIN w2 b ON a.term = b.term AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
    SELECT pa AS doc_id_a, pb AS doc_id_b, cos_micros FROM (
      SELECT pa, pb,
             CAST(FLOOR(dot / (sqrt(CAST(na.n2 AS DOUBLE))
                               * sqrt(CAST(nb.n2 AS DOUBLE)))
                        * 1000000e0 + 0.5e0) AS BIGINT) AS cos_micros
      FROM d JOIN n2 na ON na.doc_id = pa JOIN n2 nb ON nb.doc_id = pb)
    WHERE cos_micros >= 850000
    """,
    description="Exact all-pairs WEIGHTED-cosine similarity join "
    "(operators/apss.apss_join, r8): every document pair with tf-idf "
    "cosine >= 0.85 — the weighted sibling of q_setsim_join's "
    "unweighted Jaccard (rare shared terms count, ubiquitous ones "
    "barely do; the join template clustering and near-dup mining "
    "actually want). Bayardo All-Pairs prefix filter, Spark-first: "
    "integer inverse-df weights (no log — no transcendental), "
    "L2-normalized to micro units via correctly-rounded sqrt of a "
    "DECIMAL(38,0) norm (bit-identical cross-engine; normalized dots "
    "stay ~1e12 < 2^53), global (max-weight DESC, term) order, per-"
    "doc suffix-bound prefixes indexed so candidates are FULL x "
    "PREFIX on term — the one-sided suffix-bound guarantee loses no "
    "qualifying pair (property-tested vs brute force on random "
    "corpora) — then a candidate-bound array-map verify (the setsim "
    "shape). The oracle is the GROUND-TRUTH all-pairs join, so the "
    "driver row certifies exact recall, not just the happy path.",
    refs=("§2.12",),
)
def q_apss_join(spark, sf_dir):
    from lakeflow.operators.apss import apss_join

    d = load_table(spark, sf_dir, "documents")
    return apss_join(d, "doc_id", "text", 850_000)


@query(
    "q_incremental_apss",
    oracle=f"""
    WITH tk AS (SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tk WHERE term <> '' GROUP BY 1, 2),
    sdf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM tf WHERE doc_id % 7 <> 0 GROUP BY 1),
    su AS (SELECT t.doc_id, t.term, (t.tf * 1000000) // d.df AS u
           FROM tf t JOIN sdf d USING (term) WHERE t.doc_id % 7 <> 0),
    nu AS (SELECT t.doc_id, t.term,
                  (t.tf * 1000000) // COALESCE(d.df, 1) AS u
           FROM tf t LEFT JOIN sdf d USING (term) WHERE t.doc_id % 7 = 0),
    au AS (SELECT * FROM su UNION ALL SELECT * FROM nu),
    n2u AS (SELECT doc_id, SUM(CAST(u * u AS HUGEINT)) AS n2u
            FROM au GROUP BY 1),
    w AS (SELECT doc_id, term,
                 CAST(FLOOR(CAST(u AS DOUBLE) * 1000000e0
                            / sqrt(CAST(n2u AS DOUBLE)) + 0.5e0)
                      AS BIGINT) AS w
          FROM au JOIN n2u USING (doc_id)),
    w2 AS (SELECT * FROM w WHERE w > 0),
    n2 AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2
           FROM w2 GROUP BY 1),
    d AS (SELECT a.doc_id AS pa, b.doc_id AS pb,
                 CAST(SUM(a.w * b.w) AS BIGINT) AS dot
          FROM w2 a JOIN w2 b ON a.term = b.term AND a.doc_id < b.doc_id
          WHERE a.doc_id % 7 = 0 OR b.doc_id % 7 = 0
          GROUP BY 1, 2)
    SELECT pa AS doc_id_a, pb AS doc_id_b, cos_micros FROM (
      SELECT pa, pb,
             CAST(FLOOR(dot / (sqrt(CAST(na.n2 AS DOUBLE))
                               * sqrt(CAST(nb.n2 AS DOUBLE)))
                        * 1000000e0 + 0.5e0) AS BIGINT) AS cos_micros
      FROM d JOIN n2 na ON na.doc_id = pa JOIN n2 nb ON nb.doc_id = pb)
    WHERE cos_micros >= 850000
    """,
    description="INCREMENTAL weighted-cosine all-pairs join "
    "(operators/apss.incremental_apss_pairs, r9): every pair with "
    "tf-idf cosine >= 0.85 involving at least one NEW document, "
    "against the persisted weight + norm-only prefix relations of the "
    "stored corpus — the incremental tier its siblings already have "
    "(setsim.incremental_setsim_pairs, kmeans.incremental_semantic_"
    "pairs). Documents split 6:1 into stored (doc_id % 7 != 0) and "
    "batch; the batch is weighted against the stored df SNAPSHOT "
    "(unseen terms take df=1 — the conservative rarest reading), "
    "new×stored candidates come from FULL(new) × stored-PREFIX on "
    "term under the one-sided suffix-bound guarantee (the persisted "
    "prefix keeps only the corpus-independent NORM bound, so it stays "
    "sound against documents that postdate it), the batch-tier pair "
    "accumulation filter prunes before a candidate-bound map verify "
    "(stored arrays gated by a semi-join on candidate ids), and "
    "new×new reuses the batch machinery with the exact-duplicate "
    "collapse. Batch-proportional: old×old pairs are never "
    "regenerated. The oracle is the GROUND-TRUTH brute-force join "
    "over the same snapshot weighting, so the driver row certifies "
    "exact recall of the incremental tier.",
    refs=("§2.12",),
)
def q_incremental_apss(spark, sf_dir):
    from lakeflow.caching import maybe_persist
    from lakeflow.operators.apss import (
        apss_prefix_index,
        incremental_apss_pairs,
        snapshot_weights,
        weighted_terms,
    )

    d = load_table(spark, sf_dir, "documents")
    stored = d.filter(F.col("doc_id") % 7 != 0)
    new = d.filter(F.col("doc_id") % 7 == 0)
    # in production weights/prefix are PERSISTED PARQUET (apss_index_fit
    # builds them once; batches read them); here the query simulates
    # that by persisting the just-built relations — without this every
    # downstream branch would re-run the stored corpus's weight
    # aggregates (under the ambient scope in bench, session-lifetime in
    # the gate — the q_data_selection precedent)
    sw = maybe_persist(weighted_terms(stored, "doc_id", "text"), None)
    pre = maybe_persist(apss_prefix_index(sw, "doc_id", 850_000), None)
    nw = maybe_persist(snapshot_weights(new, sw, "doc_id", "text"), None)
    return incremental_apss_pairs(
        new, sw, pre, "doc_id", "text", 850_000, new_weights=nw
    )


def _cms_oracle() -> str:
    from lakeflow.operators.sketches import sql_cms_estimate

    return sql_cms_estimate("user_id", "events", "user_id < 25")


@query(
    "q_cms_estimate",
    oracle=_cms_oracle(),
    description="Count-min frequency sketch with point lookups "
    "(operators/sketches.cms_sketch/cms_lookup, r8): per-user event-"
    "count estimates for a probe watchlist from a D=4 x W=1024 cell "
    "table — the FREQUENCY twin of q_hll_distinct's cardinality "
    "sketch, and like it an OPEN sketch: cells are plain "
    "(seed_row, bucket, n) rows that persist, SUM-merge from a "
    "stream (corpus_intake.stream_cms under batch-id commit tokens), "
    "and replay on any engine — where exact per-value counts over an "
    "unbounded stream need unbounded state, the sketch answers in "
    "D*W integers with the standard eps*N overestimate bound (est >= "
    "true always; property-tested). ONE map-side-combined hash "
    "aggregate over the D-row explosion; lookups explode the "
    "watchlist to D cells and broadcast-join the bounded sketch. "
    "Deterministic seeded md5-slice hashes -> the oracle replays "
    "every cell and every MIN bit-for-bit.",
    refs=("§2.12", "A5"),
)
def q_cms_estimate(spark, sf_dir):
    from lakeflow.operators.sketches import cms_lookup, cms_sketch

    ev = load_table(spark, sf_dir, "events")
    sketch = cms_sketch(ev, "user_id")
    probes = ev.filter(F.col("user_id") < 25).select("user_id").distinct()
    return cms_lookup(sketch, probes, "user_id")


@query(
    "q_grouped_chi2",
    oracle="""
    WITH b AS (
      SELECT event_type,
             least(CAST(FLOOR(value / 50e0) AS BIGINT), 9) AS bin,
             CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS ia
      FROM events),
    c AS (
      SELECT event_type, bin, CAST(SUM(ia) AS BIGINT) AS ca,
             CAST(COUNT(*) - SUM(ia) AS BIGINT) AS cb
      FROM b GROUP BY 1, 2),
    t AS (SELECT event_type, CAST(SUM(ca) AS BIGINT) AS na,
                 CAST(SUM(cb) AS BIGINT) AS nb
          FROM c GROUP BY 1),
    terms AS (
      SELECT c.event_type, na, nb,
             (ca * 1000000) // na AS p, (cb * 1000000) // nb AS q
      FROM c JOIN t USING (event_type)
      WHERE na > 0 AND nb > 0)
    SELECT event_type, na AS n_a, nb AS n_b,
           CAST(SUM(CASE WHEN p + q > 0
                         THEN ((p - q) * (p - q)) // (p + q)
                         ELSE 0 END) AS BIGINT) AS chi2_micros
    FROM terms GROUP BY 1, 2, 3
    """,
    description="Per-GROUP exact chi-squared distance drift "
    "(operators/profile.grouped_chi2_distance, r8): for every "
    "event_type, the rare-bin-sensitive distance between the first "
    "and second half of the stream over fixed value bins — the fleet "
    "form completing the grouped drift pair with q_grouped_ks (KS "
    "answers WHICH groups' value order drifted; this answers WHICH "
    "groups' rare bins moved). Per-(group, bin) counts in ONE "
    "map-side-combined hash aggregate, integer micro proportions, "
    "bounded-BIGINT per-bin terms summed order-independently — "
    "bit-identical across engines. Groups with an empty side are "
    "DROPPED (undefined), not job-killing, deliberately unlike the "
    "single-pair assert.",
    refs=("§2.12", "A5"),
)
def q_grouped_chi2(spark, sf_dir):
    from lakeflow.functions.exact import lit_ts
    from lakeflow.operators.profile import grouped_chi2_distance

    ev = load_table(spark, sf_dir, "events")
    binned = ev.select(
        "event_type",
        F.least(
            F.floor(F.col("value") / F.lit(50.0)).cast("long"), F.lit(9)
        ).alias("bin"),
        (F.col("ts") < lit_ts(ev, "ts", "2024-01-16")).alias("ia"),
    )
    return grouped_chi2_distance(binned, "event_type", "bin", F.col("ia"))


def _matryoshka_oracle() -> str:
    from lakeflow.operators.metrics import sql_matryoshka_recall

    return sql_matryoshka_recall([8, 16, 32], k=10, query_filter="vec_id < 8")


@query(
    "q_matryoshka_recall",
    oracle=_matryoshka_oracle(),
    description="Matryoshka truncation-recall curve "
    "(operators/metrics.matryoshka_recall, r8): per query and "
    "kept-dimension count (8/16/32 of 64), the overlap between exact "
    "cosine top-10 on the full vectors and top-10 on the prefix "
    "slice — the serving question prefix-truncatable embeddings "
    "answer ('how many dims can the ANN scan drop before ranking "
    "moves'), priced the same way as the int8 recall contract. Both "
    "sides are corpus-scan x broadcast(queries) through the bounded "
    "two-phase top-k with the (cos DESC, id) tie-break; overlap via "
    "a hit-flag left join so zero-overlap rows survive; one extra "
    "corpus scan per probed dimension, each reading d/64ths of the "
    "vector bytes at scale.",
    refs=("§2.12",),
)
def q_matryoshka_recall(spark, sf_dir):
    from lakeflow.operators.metrics import matryoshka_recall

    emb = load_table(spark, sf_dir, "embeddings")
    return matryoshka_recall(emb, F.col("vec_id") < 8, [8, 16, 32], k=10)


def _source_overlap_oracle(k: int = 16) -> str:
    from lakeflow.functions.hashing import sql_hash_slices

    seeds = tuple(f"cs{i}" for i in range(k // 4))
    slices = sql_hash_slices("s", seeds)
    mins = ", ".join(f"MIN({h}) AS m{i}" for i, h in enumerate(slices))
    match = " + ".join(
        f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    shingle = (
        "unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] "
        "for i in generate_series(1, greatest(len(t) - 2, 0))]) AS s"
    )
    return f"""
    WITH tk AS (SELECT source, {_SQL_TOKS} AS t FROM documents),
    e AS (SELECT source, {shingle} FROM tk),
    sg AS (SELECT source, {mins} FROM e GROUP BY source)
    SELECT a.source AS src_a, b.source AS src_b,
           CAST({k} AS BIGINT) AS n_seeds,
           CAST({match} AS BIGINT) AS n_match,
           CAST((({match}) * 1000000) // {k} AS BIGINT) AS jaccard_est_micros
    FROM sg a JOIN sg b ON a.source < b.source
    """


@query(
    "q_source_overlap",
    oracle=_source_overlap_oracle(16),
    description="Pairwise source-overlap matrix "
    "(operators/corpus.source_overlap_matrix, r8): estimated "
    "shingle-set Jaccard between every pair of the 20 sources from "
    "per-group corpus-set minhash signatures — the domain-redundancy "
    "monitor a mixture designer reads BEFORE paying doc-level "
    "near-dup joins across sources. ALL signatures come from the "
    "same ONE narrow tokenize+shingle pass the global estimate uses "
    "(one hash agg keyed by group, map-side combined to <= |groups| "
    "rows per partition; min is duplicate-insensitive so no distinct "
    "is paid), then a |groups|^2/2 broadcast self-join of one-row "
    "signatures. Deterministic seeded digest slices, exact integer "
    "estimate — the oracle replays it bit-for-bit.",
    refs=("§2.12", "A5"),
)
def q_source_overlap(spark, sf_dir):
    from lakeflow.operators.corpus import source_overlap_matrix

    d = load_table(spark, sf_dir, "documents")
    return source_overlap_matrix(d, "source", "text", k=16)


def _mmr_oracle(k: int = 5, lam: int = 700_000) -> str:
    """Unrolled greedy-MMR replay: one CTE pair per round (max-sim vs
    the selected-so-far union, then the argmax pick), mirroring the
    operator's exact integer score and (score DESC, id) tie-break."""

    def cos(a: str, b: str) -> str:
        return (
            f"CAST(FLOOR(list_dot_product({a}.v, {b}.v) "
            f"/ (sqrt({a}.n2) * sqrt({b}.n2)) * 1000000e0 + 0.5e0) AS BIGINT)"
        )

    parts = [
        f"WITH e AS (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings),",
        "n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),",
        "q AS (SELECT vec_id AS qid, v, n2 FROM n WHERE vec_id = 0),",
        "cand AS (SELECT c.vec_id, c.v, c.n2, "
        + cos("c", "q")
        + " AS rel FROM n c, q WHERE c.vec_id <> q.qid),",
        f"p1 AS (SELECT 1 AS rnk, vec_id, v, n2, rel, CAST(0 AS BIGINT) AS ms,"
        f" CAST({lam} AS BIGINT) * rel AS score"
        f" FROM cand ORDER BY CAST({lam} AS BIGINT) * rel DESC, vec_id"
        f" LIMIT 1),",
    ]
    for i in range(2, k + 1):
        sel = " UNION ALL ".join(
            f"SELECT vec_id, v, n2 FROM p{j}" for j in range(1, i)
        )
        parts.append(f"sel{i} AS ({sel}),")
        parts.append(
            f"ms{i} AS (SELECT c.vec_id, MAX({cos('c', 's')}) AS ms "
            f"FROM cand c, sel{i} s GROUP BY c.vec_id),"
        )
        parts.append(
            f"p{i} AS (SELECT {i} AS rnk, c.vec_id, c.v, c.n2, c.rel, m.ms, "
            f"CAST({lam} AS BIGINT) * c.rel"
            f" - CAST({1_000_000 - lam} AS BIGINT) * m.ms AS score "
            f"FROM cand c JOIN ms{i} m ON m.vec_id = c.vec_id "
            f"WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i}) "
            f"ORDER BY score DESC, c.vec_id LIMIT 1),"
        )
    final = " UNION ALL ".join(
        f"SELECT CAST(rnk AS BIGINT) AS rank, vec_id, rel AS rel_micros, "
        f"ms AS maxsim_micros, CAST(score AS BIGINT) AS score_e12 FROM p{j}"
        for j in range(1, k + 1)
    )
    parts[-1] = parts[-1].rstrip(",")
    return "\n".join(parts) + "\n" + final


def _kcenter_oracle(k: int = 5) -> str:
    """Unrolled greedy k-center replay: seed = (norm DESC, id) argmax,
    then per round the (max-cos-to-selected ASC, id) argmin."""

    def cos(a: str, b: str) -> str:
        return (
            f"CAST(FLOOR(list_dot_product({a}.v, {b}.v) "
            f"/ (sqrt({a}.n2) * sqrt({b}.n2)) * 1000000e0 + 0.5e0) AS BIGINT)"
        )

    parts = [
        f"WITH e AS (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings),",
        "n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),",
        "p1 AS (SELECT 1 AS rnk, vec_id, v, n2, CAST(0 AS BIGINT) AS mc"
        " FROM n ORDER BY n2 DESC, vec_id LIMIT 1),",
    ]
    for i in range(2, k + 1):
        sel = " UNION ALL ".join(
            f"SELECT vec_id, v, n2 FROM p{j}" for j in range(1, i)
        )
        parts.append(f"sel{i} AS ({sel}),")
        parts.append(
            f"ms{i} AS (SELECT c.vec_id, MAX({cos('c', 's')}) AS mc "
            f"FROM n c, sel{i} s "
            f"WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i}) "
            f"GROUP BY c.vec_id),"
        )
        parts.append(
            f"p{i} AS (SELECT {i} AS rnk, c.vec_id, c.v, c.n2, m.mc "
            f"FROM n c JOIN ms{i} m ON m.vec_id = c.vec_id "
            f"ORDER BY m.mc ASC, c.vec_id LIMIT 1),"
        )
    final = " UNION ALL ".join(
        f"SELECT CAST(rnk AS BIGINT) AS rank, vec_id, "
        f"mc AS maxcos_micros FROM p{j}"
        for j in range(1, k + 1)
    )
    parts[-1] = parts[-1].rstrip(",")
    return "\n".join(parts) + "\n" + final


@query(
    "q_kcenter_select",
    oracle=_kcenter_oracle(5),
    description="Greedy k-center (farthest-point) coreset of 5 "
    "(operators/similarity.kcenter_select, r8): seed with the "
    "largest-norm vector, then repeatedly add the candidate whose MAX "
    "cosine to the selected set is SMALLEST — the classic "
    "2-approximation cover for eval-probe picking and diverse seed "
    "sets; the query-free pure-diversity sibling of q_mmr_select with "
    "the same execution shape (micro-int vectors persisted once, each "
    "round a TakeOrdered(1) with selected vectors as codegen "
    "literals, exact integer cosines, (maxcos ASC, id) tie-break). "
    "The oracle replays all 5 rounds in unrolled CTEs. Carries to the "
    "r9 window (the r8 continuation swap already holds 5 new rows).",
    refs=("§2.12",),
)
def q_kcenter_select(spark, sf_dir):
    from lakeflow.operators.similarity import kcenter_select

    emb = load_table(spark, sf_dir, "embeddings")
    return kcenter_select(emb, k=5)


@query(
    "q_mmr_select",
    oracle=_mmr_oracle(5, 700_000),
    description="Maximal Marginal Relevance diverse top-5 "
    "(operators/similarity.mmr_select, r8): greedy argmax of "
    "0.7*rel(q,d) - 0.3*max_{s in S} cos(d,s) — the diversity-aware "
    "selection for eval-set curation where plain cosine top-k returns "
    "k near-copies of one neighborhood. The scored candidate relation "
    "(corpus scan x broadcast query, exact integer cosine) builds "
    "once and persists under the ambient scope; each of the 5 rounds "
    "is a TakeOrdered(1) with the selected vectors folded back as "
    "codegen literals (<= k*dim driver longs, the kmeans/BPE bounded-"
    "iteration precedent) — no per-round shuffle or join. Scores stay "
    "in exact 1e-12 integer units (no division, so no floor-vs-"
    "truncate hazard on negatives); the oracle replays all 5 rounds "
    "in unrolled CTEs with the identical (score DESC, id) tie-break.",
    refs=("§2.12",),
)
def q_mmr_select(spark, sf_dir):
    from lakeflow.operators.similarity import mmr_select

    emb = load_table(spark, sf_dir, "embeddings")
    return mmr_select(emb, F.col("vec_id") == 0, k=5, lam_micros=700_000)


@query(
    "q_rm3_expansion",
    oracle=f"""
    WITH {_BM25_CTE},
    fb AS (SELECT doc_id FROM bsc
           ORDER BY score_micros DESC, doc_id ASC LIMIT 10),
    fbp AS (SELECT i.token, i.doc_id, i.tf FROM idx i JOIN fb USING (doc_id)),
    fbt AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS fb_tf
            FROM fbp GROUP BY 1),
    dfa AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM idx
            WHERE token IN (SELECT token FROM fbt) GROUP BY 1)
    SELECT f.token, d.df, f.fb_tf,
           CAST(CAST(length(bin((2*st.n_docs + 2) // (2*d.df + 1)))
                     AS BIGINT) * f.fb_tf AS BIGINT) AS weight
    FROM fbt f JOIN dfa d USING (token) CROSS JOIN st
    WHERE f.token NOT IN ('spark', 'join', 'merge')
    ORDER BY weight DESC, token ASC LIMIT 15
    """,
    description="Pseudo-relevance-feedback query expansion "
    "(operators/index.rm3_expansion — the RM3 relevance-model "
    "arrangement, Lavrenko & Croft SIGIR'01; r11's search-family "
    "pairing for the q_bm25_search/q_hybrid_search refresh): the BM25 "
    "top-10 for ['spark','join','merge'] becomes the feedback set, "
    "and its terms rank by the EXACT-integer relevance weight "
    "idf_bits(t) * sum of feedback tf — idf quantized to whole bits "
    "via bit_length((2N+2) div (2df+1)), the same no-floating-log "
    "device as the BM25 row, so the expansion set is bit-reproducible "
    "on any engine. Original query terms excluded, ties token-asc, "
    "top-15. The feedback set is a 10-row TakeOrdered relation "
    "BROADCAST into the posting join and the df lookup semi-joins to "
    "the feedback vocabulary, so per-query cost beyond the BM25 round "
    "is the feedback docs' postings — never a corpus-wide expansion.",
    refs=("§2.12", "A5", "D3", "J3"),
)
def q_rm3_expansion(spark, sf_dir):
    from lakeflow.operators.index import build_inverted_index, rm3_expansion

    d = load_table(spark, sf_dir, "documents")
    idx = build_inverted_index(d)
    return rm3_expansion(idx, ["spark", "join", "merge"], k_docs=10, k_terms=15)


@query(
    "q_triangle_count",
    oracle="""
    WITH e AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                      greatest(a.l_partkey, b.l_partkey) AS v
               FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
               WHERE a.l_partkey <> b.l_partkey),
    n AS (SELECT CAST(COUNT(DISTINCT x) AS BIGINT) AS n_nodes FROM
          (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e) z),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
          FROM e e1 JOIN e e2 ON e2.u = e1.v
          JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
    SELECT n.n_nodes, m.n_edges, t.n_triangles
    FROM n CROSS JOIN m CROSS JOIN t
    """,
    description="Exact global triangle count over the part "
    "co-purchase graph — distinct part pairs sharing an order — via "
    "degree-ordered orientation (operators/graph.triangle_count, the "
    "Schank/Wagner forward algorithm; r11's graph-family pairing for "
    "the q_pagerank refresh): orient every edge from its (degree, id)-"
    "lower endpoint to its higher one, so each triangle is exactly ONE "
    "wedge at its lowest-ranked vertex — wedge generation is then "
    "bounded by oriented out-degrees (O(m^1.5) total) instead of the "
    "hub-quadratic unoriented deg^2, the property that keeps the count "
    "feasible on power-law co-occurrence graphs at corpus scale. One "
    "degree aggregate, one wedge self-join, one semi-join closure "
    "check — all equi-shuffles on node keys, AQE-splittable. The "
    "oracle replays the count orientation-free (a plain 3-way join "
    "under u<v<w normalization) since the count is "
    "orientation-invariant. Triangle density over near-dup pair "
    "graphs separates transitive duplication from chain-shaped hash "
    "noise; clustering-coefficient features rank curation domains.",
    refs=("§2.12", "J2", "A5"),
)
def q_triangle_count(spark, sf_dir):
    from lakeflow.operators.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
    )
    return triangle_count(pairs, "pa", "pb")


@query(
    "q_token_fertility",
    oracle=f"""
    WITH tok AS (SELECT lang, unnest({_SQL_TOKS}) AS t FROM documents),
    t2 AS (SELECT lang, t FROM tok WHERE t <> ''),
    pt AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                  CAST(COUNT(DISTINCT t) AS BIGINT) AS vocab
           FROM t2 GROUP BY 1),
    pd AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(length(text)) AS BIGINT) AS n_chars
           FROM documents GROUP BY 1)
    SELECT d.lang, d.n_docs, t.n_tokens, d.n_chars, t.vocab,
           CAST((d.n_chars * 1000000) // t.n_tokens AS BIGINT)
             AS chars_per_token_micros,
           CAST((t.n_tokens * 1000000) // d.n_docs AS BIGINT)
             AS tokens_per_doc_micros
    FROM pd d JOIN pt t USING (lang)
    """,
    description="Per-language tokenizer fertility / compression "
    "statistics (operators/corpus.tokenizer_fertility; r11's "
    "tokenize-family pairing for the q_tokenize_ids/q_oov_rate "
    "refresh): docs, whitespace tokens, characters, distinct-token "
    "vocabulary, and the two exact integer-micro ratios a "
    "tokenization budget planner reads — chars_per_token_micros "
    "(fertility: rising per-language fertility means the tokenizer "
    "undersegments that language) and tokens_per_doc_micros (the "
    "sequence-packing planner's mean-length input). One explode "
    "feeding two map-side-combined hash aggregates joined on the "
    "bounded language key; integer div micros throughout, so any "
    "engine replays the ratios bit-for-bit.",
    refs=("§2.12", "A5", "N7", "F1"),
)
def q_token_fertility(spark, sf_dir):
    from lakeflow.operators.corpus import tokenizer_fertility

    d = load_table(spark, sf_dir, "documents")
    return tokenizer_fertility(d, "lang")
