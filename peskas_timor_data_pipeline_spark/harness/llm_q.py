"""Training-data pipeline queries (dedup / similarity / text / multimodal)
over the documents and embeddings tables, each with a DuckDB oracle.

Hash-heavy oracles (MinHash, SimHash) are possible because every hash in
the engine is md5-based: DuckDB computes the identical hex digests, so the
full LSH pipeline is value-checked end to end, not just row-counted.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from peskas_timor_data_pipeline_spark.harness.tables import exact_ppm, load
from peskas_timor_data_pipeline_spark.llm.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signature,
    ngram_jaccard,
    simhash,
    simhash_bits_sql,
)
from peskas_timor_data_pipeline_spark.llm.multimodal import (
    attach_binary,
    encode_ppm,
    encode_wav,
    extract_binary_meta,
)
from peskas_timor_data_pipeline_spark.llm.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
)
from peskas_timor_data_pipeline_spark.llm.text import (
    STOPWORDS,
    bottom_k_fingerprint,
    langid_heuristic,
    quality_features,
    token_counts,
)

DIM = 64


# --- D1: exact dedup ----------------------------------------------------------

def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    recrawl = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(recrawl)
    deduped = exact_dedup(corpus, "doc_id", ["text"])
    return deduped.groupBy().agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.sum("n_dups").alias("n_total"),
        F.sum(F.when(F.col("n_dups") > 1, 1).otherwise(0)).alias("n_dup_groups"),
        F.min("doc_id").alias("min_survivor"),
        F.max("doc_id").alias("max_survivor"),
    )


D1_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
), groups AS (
  SELECT md5(text) h, min(doc_id) AS doc_id, count(*) AS n_dups
  FROM corpus GROUP BY md5(text)
)
SELECT count(*) AS n_unique,
       CAST(sum(n_dups) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN n_dups > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
       min(doc_id) AS min_survivor,
       max(doc_id) AS max_survivor
FROM groups
"""


# --- D2: MinHash signatures + LSH candidates + Jaccard verification ---------------

# 2 bands of 8: candidate probability ~ 1-(1-s^8)^2, which stays near zero
# for the corpus-wide s~0.5 background similarity of synthetic word-salad
# docs and high for true near-dups — without this the verification join
# degenerates to ~1M candidate pairs at sf0.1.
N_HASHES, BAND_SIZE, K_SHINGLE = 16, 8, 5


def d2_minhash_lsh_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # signatures are shuffle-free (narrow higher-order mins); the shingle
    # explode happens only inside ngram_jaccard, semi-joined to the tiny
    # candidate-pair population
    sigs = minhash_signature(docs, "doc_id", "text", N_HASHES, K_SHINGLE)
    pairs = lsh_candidate_pairs(sigs, "doc_id", N_HASHES, BAND_SIZE)
    verified = ngram_jaccard(docs, pairs, "doc_id", "text", K_SHINGLE)
    high = verified.filter(F.col("jaccard") >= 0.5)
    return high.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


_SHINGLE_SQL = f"""
sh AS MATERIALIZED (
  SELECT doc_id, substr(lower(text), CAST(i AS INTEGER), {K_SHINGLE}) AS sh
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, length(text) - {K_SHINGLE - 1})) AS i
        FROM documents)
)
"""

# mirrors llm.dedup.minhash_signature: one md5 chain per shingle, sliced
# into 8-hex-char (32-bit) sub-hashes
_N_MD5 = -(-N_HASHES * 8 // 32)
_DIG_SQL = " || ".join(f"md5(sh || '#{j}')" for j in range(_N_MD5))
_SHINGLE_CTE = (
    _SHINGLE_SQL
    + f", shd AS (SELECT doc_id, sh, {_DIG_SQL} AS dig FROM sh)"
)
_SIG_COLS = ", ".join(
    f"min(substr(dig, {1 + 8 * j}, 8)) AS h{j}" for j in range(N_HASHES)
)
_BAND_LIST = ", ".join(
    "md5(concat_ws('|', '%d', %s))"
    % (b, ", ".join(f"h{b * BAND_SIZE + i}" for i in range(BAND_SIZE)))
    for b in range(N_HASHES // BAND_SIZE)
)

D2_ORACLE = f"""
WITH {_SHINGLE_CTE},
sig AS (SELECT doc_id, {_SIG_COLS} FROM shd GROUP BY doc_id),
long AS (SELECT doc_id, unnest([{_BAND_LIST}]) AS band_key FROM sig),
pairs AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM long a JOIN long b USING (band_key)
  WHERE a.doc_id < b.doc_id
),
sets AS MATERIALIZED (SELECT DISTINCT doc_id, sh FROM sh),
sizes AS MATERIALIZED (SELECT doc_id, count(*) AS set_size FROM sets GROUP BY doc_id),
inter AS MATERIALIZED (
  SELECT p.id_a, p.id_b, count(*) AS n_inter
  FROM pairs p
  JOIN sets sa ON sa.doc_id = p.id_a
  JOIN sets sb ON sb.doc_id = p.id_b AND sb.sh = sa.sh
  GROUP BY p.id_a, p.id_b
)
SELECT p.id_a, p.id_b,
       round(coalesce(n_inter, 0) * 1.0
             / (za.set_size + zb.set_size - coalesce(n_inter, 0)), 6) AS jaccard
FROM pairs p
LEFT JOIN inter USING (id_a, id_b)
JOIN sizes za ON za.doc_id = p.id_a
JOIN sizes zb ON zb.doc_id = p.id_b
WHERE coalesce(n_inter, 0) * 1.0 / (za.set_size + zb.set_size - coalesce(n_inter, 0)) >= 0.5
"""


# --- D2b: LSH candidate pairs under the hot-bucket skew cap ---------------------------

def d2b_lsh_skew_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lsh_candidate_pairs with bucket_cap=2 — the hot-bucket star-pairing
    policy (llm/dedup.py): buckets over the cap pair members with the
    bucket representative (min id) only, bounding per-bucket pair counts
    to n-1 while keeping every member connected for the downstream
    clustering pass. cap=2 is deliberately low so the fixture corpus
    exercises BOTH branches (its biggest natural bucket has 3 members at
    sf0.01). The 100 TB story: ONE boilerplate-heavy hot key otherwise
    makes the bucket self-join quadratic; see the Zipfian property test."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = minhash_signature(docs, "doc_id", "text", N_HASHES, K_SHINGLE)
    pairs = lsh_candidate_pairs(
        sigs, "doc_id", N_HASHES, BAND_SIZE, bucket_cap=2
    )
    return pairs.select("id_a", "id_b")


D2B_ORACLE = f"""
WITH {_SHINGLE_CTE},
sig AS (SELECT doc_id, {_SIG_COLS} FROM shd GROUP BY doc_id),
long AS (SELECT doc_id, unnest([{_BAND_LIST}]) AS band_key FROM sig),
stats AS (
  SELECT band_key, count(*) AS n, min(doc_id) AS rep
  FROM long GROUP BY band_key
),
exact AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM long a
  JOIN long b USING (band_key)
  JOIN stats s USING (band_key)
  WHERE s.n <= 2 AND a.doc_id < b.doc_id
),
star AS (
  SELECT s.rep AS id_a, l.doc_id AS id_b
  FROM long l JOIN stats s USING (band_key)
  WHERE s.n > 2 AND l.doc_id <> s.rep
)
SELECT DISTINCT id_a, id_b FROM (
  SELECT * FROM exact UNION ALL SELECT * FROM star
)
"""

# (registered at the bottom of the module, after QUERIES exists)


# --- T37: Gopher repetition signals ----------------------------------------------------

def t37_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gates (llm/text.py::repetition_signals):
    duplicate-line fraction, duplicated-line character fraction, and
    top-bigram character coverage — integer ppm throughout. The fixture
    corpus is single-line word salad, so the wrapper deterministically
    re-chunks each doc into 8-word lines and PLANTS one duplicate line
    (docs with >= 16 words repeat their first line) so the dup branches
    are exercised, not just zero. Text goes through the printable-ASCII
    projection first (the d7 lesson)."""
    from peskas_timor_data_pipeline_spark.llm.text import repetition_signals

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(F.col("text"), "[^\\x20-\\x7E]", "").alias("t"),
    )
    words = F.expr(r"filter(split(t, '\\s+'), x -> x <> '')")
    chunked = docs.select("doc_id", words.alias("__w__")).select(
        "doc_id",
        F.expr(
            "CASE WHEN size(__w__) = 0 THEN array() "
            "ELSE transform(sequence(0, (size(__w__) + 7) div 8 - 1), "
            "i -> array_join(slice(__w__, i * 8 + 1, 8), ' ')) END"
        ).alias("__lns__"),
        F.size("__w__").alias("__nw__"),
    )
    planted = chunked.select(
        "doc_id",
        F.expr(
            "array_join(CASE WHEN __nw__ >= 16 "
            "THEN concat(__lns__, array(__lns__[0])) ELSE __lns__ END, '\\n')"
        ).alias("lined"),
    )
    return repetition_signals(planted, "doc_id", "lined")


T37_ORACLE = r"""
WITH norm AS (
  SELECT doc_id,
         list_filter(
           string_split_regex(regexp_replace(text, '[^\x20-\x7e]', '', 'g'),
                              '\s+'),
           x -> x <> '') AS ws
  FROM documents
),
lined AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 16 THEN ws || list_slice(ws, 1, 8) ELSE ws END AS ws2,
         CASE WHEN len(ws) = 0 THEN [] ELSE
           list_transform(generate_series(0, CAST((len(ws) + 7) // 8 AS INTEGER) - 1),
                          i -> array_to_string(list_slice(ws, i * 8 + 1, i * 8 + 8), ' '))
         END AS lns0,
         len(ws) AS nw
  FROM norm
),
lines_f AS MATERIALIZED (
  SELECT doc_id, ws2,
         CASE WHEN nw >= 16 THEN list_append(lns0, lns0[1]) ELSE lns0 END AS lns
  FROM lined
),
lnx AS MATERIALIZED (SELECT doc_id, unnest(lns) AS ln FROM lines_f),
per_line AS MATERIALIZED (SELECT doc_id, ln, count(*) AS c FROM lnx GROUP BY doc_id, ln),
line_stats AS MATERIALIZED (
  SELECT doc_id, sum(c) AS n_lines, count(*) AS nd,
         sum(c * length(ln)) AS chars,
         sum(CASE WHEN c > 1 THEN c * length(ln) ELSE 0 END) AS chars_dup
  FROM per_line GROUP BY doc_id
),
wchars AS MATERIALIZED (
  SELECT doc_id, coalesce(list_sum(list_transform(ws2, x -> length(x))), 0) AS wc
  FROM lines_f
),
bgx AS MATERIALIZED (
  SELECT doc_id, unnest(
    CASE WHEN len(ws2) < 2 THEN []
         ELSE list_transform(generate_series(1, CAST(len(ws2) AS INTEGER) - 1),
                             i -> ws2[i] || ' ' || ws2[i + 1]) END) AS bg
  FROM lines_f
),
bg_counts AS MATERIALIZED (SELECT doc_id, bg, count(*) AS c FROM bgx GROUP BY doc_id, bg),
top_bg AS MATERIALIZED (
  SELECT doc_id, c * (length(bg) - 1) AS top_chars FROM (
    SELECT doc_id, bg, c,
           row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bg) AS rn
    FROM bg_counts) WHERE rn = 1
)
SELECT d.doc_id,
       CAST(coalesce(s.n_lines, 0) AS BIGINT) AS n_lines,
       CAST(CASE WHEN coalesce(s.n_lines, 0) > 0
                 THEN (s.n_lines - s.nd) * 1000000 // s.n_lines
                 ELSE 0 END AS BIGINT) AS dup_line_ppm,
       CAST(CASE WHEN coalesce(s.chars, 0) > 0
                 THEN s.chars_dup * 1000000 // s.chars
                 ELSE 0 END AS BIGINT) AS dup_char_ppm,
       CAST(CASE WHEN coalesce(w.wc, 0) > 0
                 THEN coalesce(t.top_chars, 0) * 1000000 // w.wc
                 ELSE 0 END AS BIGINT) AS top_bigram_ppm
FROM documents d
LEFT JOIN line_stats s USING (doc_id)
LEFT JOIN top_bg t USING (doc_id)
LEFT JOIN wchars w USING (doc_id)
"""


# --- D3: SimHash ---------------------------------------------------------------------

def d3_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return simhash(docs, "doc_id", "text", n_bits=16)


_SIMHASH_AGGS = ", ".join(
    f"{e} AS b{i}" for i, e in enumerate(simhash_bits_sql("tokh", 16))
)
_SIMHASH_CONCAT = " || ".join(f"b{i}" for i in range(16))

D3_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
  FROM documents
), nonempty AS (
  SELECT doc_id, md5(tok) AS tokh FROM toks WHERE tok <> ''
), sig AS (
  SELECT doc_id, {_SIMHASH_AGGS} FROM nonempty GROUP BY doc_id
)
SELECT doc_id, {_SIMHASH_CONCAT} AS simhash FROM sig
"""


# --- E1: brute-force cosine top-k ------------------------------------------------------

def _dot_sql(a: str, b: str) -> str:
    return " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)" for i in range(1, DIM + 1)
    )


def e1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    candidates = emb.filter(F.col("vec_id") >= 10)
    return cosine_topk_bruteforce(queries, candidates, "vec_id", "embedding", k=3, dim=DIM)


E1_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings WHERE vec_id >= 10),
scored AS (
  SELECT query_id, cand_id,
         ({_dot_sql('qv', 'cv')})
         / (sqrt({_dot_sql('qv', 'qv')}) * sqrt({_dot_sql('cv', 'cv')})) AS cosine
  FROM q CROSS JOIN c
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
  FROM scored
)
SELECT query_id, cand_id, CAST(rank AS INTEGER) AS rank, round(cosine, 6) AS cosine
FROM ranked WHERE rank <= 3
"""


# --- E2: hyperplane-LSH pruned ANN ------------------------------------------------------

def e2_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 50)
    candidates = emb.filter(F.col("vec_id") >= 50)
    return cosine_topk_lsh(
        queries, candidates, "vec_id", "embedding", k=1, dim=DIM, n_bits=8
    )


_BUCKET_SQL = "concat(" + ", ".join(
    f"CASE WHEN embedding[{i}] >= 0 THEN '1' ELSE '0' END" for i in range(1, 9)
) + ")"

E2_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv, {_BUCKET_SQL} AS bucket
           FROM embeddings WHERE vec_id < 50),
c AS (SELECT vec_id AS cand_id, embedding AS cv, {_BUCKET_SQL} AS bucket
      FROM embeddings WHERE vec_id >= 50),
scored AS (
  SELECT query_id, cand_id,
         ({_dot_sql('qv', 'cv')})
         / (sqrt({_dot_sql('qv', 'qv')}) * sqrt({_dot_sql('cv', 'cv')})) AS cosine
  FROM q JOIN c USING (bucket)
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
  FROM scored
)
SELECT query_id, cand_id, CAST(rank AS INTEGER) AS rank, round(cosine, 6) AS cosine
FROM ranked WHERE rank <= 1
"""


# --- T1: language-ID heuristic ------------------------------------------------------------

def t1_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pred = langid_heuristic(docs, "text")
    return pred.groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).alias("n"))


def _hits_sql(lang: str) -> str:
    wl = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"len(list_filter(string_split_regex(lower(text), '\\s+'),"
        f" x -> x IN ({wl})))"
    )


T1_ORACLE = f"""
WITH hits AS (
  SELECT lang,
         {_hits_sql('en')} AS en_h, {_hits_sql('fr')} AS fr_h,
         {_hits_sql('es')} AS es_h, {_hits_sql('de')} AS de_h
  FROM documents
), pred AS (
  SELECT lang,
         CASE WHEN de_h > greatest(en_h, fr_h, es_h) THEN 'de'
              WHEN es_h > greatest(en_h, fr_h) THEN 'es'
              WHEN fr_h > en_h THEN 'fr'
              WHEN en_h > 0 THEN 'en'
              ELSE 'und' END AS pred_lang
  FROM hits
)
SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY lang, pred_lang
"""


# --- T2: quality scoring ---------------------------------------------------------------------

def t2_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return quality_features(docs, "text").select(
        "doc_id", "n_tokens", "avg_token_len", "alpha_ratio",
        "punct_ratio", "stopword_ratio", "quality_score",
    )


T2_ORACLE = f"""
WITH feats AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(string_split_regex(lower(text), '\\s+')) AS n_tokens,
         round(length(regexp_replace(text, '\\s+', '', 'g'))
               / len(string_split_regex(lower(text), '\\s+')), 6) AS avg_token_len,
         round(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) / length(text), 6) AS alpha_ratio,
         round(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) / length(text), 6) AS punct_ratio,
         round({_hits_sql('en')} * 1.0
               / len(string_split_regex(lower(text), '\\s+')), 6) AS stopword_ratio
  FROM documents
)
SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens, avg_token_len, alpha_ratio, punct_ratio, stopword_ratio,
       round(least(n_tokens / 100.0, 1.0) * 0.3
             + alpha_ratio * 0.4
             + least(stopword_ratio * 5.0, 1.0) * 0.2
             + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.1, 6) AS quality_score
FROM feats
"""


# --- T3: token counting -----------------------------------------------------------------------

def t3_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return token_counts(docs, "text").select("doc_id", "ws_tokens", "bpe_ish_tokens")


T3_ORACLE = """
SELECT doc_id,
       CAST(len(string_split_regex(lower(text), '\\s+')) AS INTEGER) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INTEGER) AS bpe_ish_tokens
FROM documents
"""


# --- T4: bottom-k fingerprint -------------------------------------------------------------------

def t4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return bottom_k_fingerprint(docs, "doc_id", "text", k_gram=8, k=4)


T4_ORACLE = """
WITH grams AS MATERIALIZED (
  SELECT DISTINCT doc_id, md5(substr(lower(text), CAST(i AS INTEGER), 8)) AS h
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, length(text) - 7)) AS i
        FROM documents)
), ranked AS MATERIALIZED (
  SELECT doc_id, h,
         row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn
  FROM grams
)
SELECT doc_id,
       md5(string_agg(h, '' ORDER BY h)) AS fingerprint
FROM ranked WHERE rn <= 4 GROUP BY doc_id
"""


# --- MM1: multimodal binary plumbing (Arrow batch extraction) -------------------------------------

def mm1_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    media = attach_binary(docs, "text", "content")
    return extract_binary_meta(media, "doc_id", "content")


MM1_ORACLE = """
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       substr(text, 1, 4) AS magic,
       md5(text) AS digest
FROM documents
"""


QUERIES = {
    "d1_exact_dedup": (d1_exact_dedup, D1_ORACLE),
    "d2_minhash_lsh_jaccard": (d2_minhash_lsh_jaccard, D2_ORACLE),
    "d3_simhash": (d3_simhash, D3_ORACLE),
    "e1_cosine_topk": (e1_cosine_topk, E1_ORACLE),
    "e2_lsh_ann": (e2_lsh_ann, E2_ORACLE),
    "t1_langid": (t1_langid, T1_ORACLE),
    "t2_quality_score": (t2_quality_score, T2_ORACLE),
    "t3_token_counts": (t3_token_counts, T3_ORACLE),
    "t4_fingerprint": (t4_fingerprint, T4_ORACLE),
    "mm1_binary_meta": (mm1_binary_meta, MM1_ORACLE),
}


# --- D4: embedding-cosine near-duplicate pairs (LSH-blocked) ----------------------

def d4_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peskas_timor_data_pipeline_spark.llm.similarity import (
        embedding_near_dup_pairs,
    )

    emb = load(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.3, dim=DIM, n_bits=8
    )


D4_ORACLE = f"""
WITH v AS (SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS va, b.embedding AS vb
  FROM v a JOIN v b USING (bucket)
  WHERE a.vec_id < b.vec_id
), scored AS (
  SELECT id_a, id_b,
         ({_dot_sql('va', 'vb')})
         / (sqrt({_dot_sql('va', 'va')}) * sqrt({_dot_sql('vb', 'vb')})) AS cosine
  FROM pairs
)
SELECT id_a, id_b, round(cosine, 6) AS cosine
FROM scored WHERE cosine >= 0.3
"""

QUERIES["d4_embedding_near_dup"] = (d4_embedding_near_dup, D4_ORACLE)


# --- T5: TF-IDF document-term weights ---------------------------------------------

def t5_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF over whitespace tokens: tf = count in doc, idf =
    ln(N / df). Two groupBys + one broadcast join, with N a 1-row count
    broadcast onto the rows — the classic corpus featurization, top-3
    terms per doc for a bounded output."""
    from pyspark.sql.window import Window
    from peskas_timor_data_pipeline_spark.llm.dedup import _spread

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = _spread(docs).select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    # a 1-row aggregate in the plan: no driver count() job at build time
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "tok", "rank", (F.floor(F.col("tfidf") * 1e6 + 0.5) / 1e6).alias("tfidf"))
    )


T5_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM documents
), nonempty AS (SELECT * FROM toks WHERE tok <> ''),
tf AS MATERIALIZED (SELECT doc_id, tok, count(*) AS tf FROM nonempty GROUP BY 1, 2),
n AS (SELECT count(*) AS n_docs FROM documents),
df AS MATERIALIZED (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
scored AS MATERIALIZED (
  SELECT doc_id, tok, tf * ln(CAST(n_docs AS DOUBLE) / df) AS tfidf
  FROM tf JOIN df USING (tok), n
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rank
  FROM scored
)
SELECT doc_id, tok, CAST(rank AS INTEGER) AS rank,
       floor(tfidf * 1e6 + 0.5) / 1e6 AS tfidf
FROM ranked WHERE rank <= 3
"""


# --- T6: deterministic stratified sampling ------------------------------------------

def t6_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling (training-data curation: cap each
    source's contribution): md5-ordered row_number <= quota per (lang,
    source) stratum. Reproducible on any engine/partitioning — the salted
    md5 plays the seeded RNG."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    order_key = F.md5(F.concat_ws("#", F.lit("seed42"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang", "source").orderBy(order_key)
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("lang", "source", "doc_id", "rn")
    )


T6_ORACLE = """
SELECT lang, source, doc_id, CAST(rn AS INTEGER) AS rn
FROM (
  SELECT lang, source, doc_id,
         row_number() OVER (
           PARTITION BY lang, source
           ORDER BY md5(concat_ws('#', 'seed42', CAST(doc_id AS VARCHAR)))
         ) AS rn
  FROM documents
) WHERE rn <= 2
"""

QUERIES.update({
    "t5_tfidf": (t5_tfidf, T5_ORACLE),
    "t6_stratified_sample": (t6_stratified_sample, T6_ORACLE),
})


# --- D5: duplicate-cluster resolution (connected components over LSH pairs) ---------

def d5_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: MinHash-LSH pairs -> iterative min-label
    connected components (llm.cluster). The oracle recomputes the same
    components with a recursive CTE — the full dedup pipeline is
    value-checked end to end, graph step included."""
    from peskas_timor_data_pipeline_spark.llm.cluster import connected_components

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = minhash_signature(docs, "doc_id", "text", N_HASHES, K_SHINGLE)
    pairs = lsh_candidate_pairs(sigs, "doc_id", N_HASHES, BAND_SIZE)
    comp = connected_components(pairs)
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


D5_ORACLE = f"""
WITH RECURSIVE {_SHINGLE_CTE},
sig AS (SELECT doc_id, {_SIG_COLS} FROM shd GROUP BY doc_id),
long AS (SELECT doc_id, unnest([{_BAND_LIST}]) AS band_key FROM sig),
p AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM long a JOIN long b USING (band_key)
  WHERE a.doc_id < b.doc_id
),
edges AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
reach AS (
  SELECT s AS node, d AS other FROM edges
  UNION
  SELECT r.node, e.d FROM reach r JOIN edges e ON r.other = e.s WHERE e.d <> r.node
),
comp AS (
  SELECT node, least(node, min(other)) AS component FROM reach GROUP BY node
)
SELECT component, count(*) AS cluster_size,
       min(node) AS min_node, max(node) AS max_node
FROM comp GROUP BY component
"""

QUERIES["d5_dup_clusters"] = (d5_dup_clusters, D5_ORACLE)


# --- T7: PII redaction ---------------------------------------------------------------

def t7_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/phone masking over synthesized PII-bearing text (the documents
    corpus has none, so it is injected deterministically from doc ids —
    both engines build identical inputs)."""
    from peskas_timor_data_pipeline_spark.llm.text import redact_pii

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    with_pii = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@example.org")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit(" call +670 7", ), F.col("doc_id") % 1000, F.lit("-1234")),
            ).otherwise(F.lit("")),
        ),
    )
    out = redact_pii(with_pii, "text")
    return out.select(
        "doc_id",
        "n_emails",
        "n_phones",
        F.md5("redacted").alias("redacted_md5"),
    )


T7_ORACLE = """
WITH with_pii AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' contact user' || doc_id || '@example.org' ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' call +670 7' || (doc_id % 1000) || '-1234' ELSE '' END
         AS text
  FROM documents
), masked AS (
  SELECT doc_id,
         length(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
  FROM with_pii
)
SELECT doc_id,
       CAST(n_emails AS INTEGER) AS n_emails,
       CAST(length(regexp_extract_all(t1, '\\+?[0-9]{3}[- ]?[0-9]{3,4}[- ]?[0-9]{3,4}')) AS INTEGER) AS n_phones,
       md5(regexp_replace(t1, '\\+?[0-9]{3}[- ]?[0-9]{3,4}[- ]?[0-9]{3,4}', '<PHONE>', 'g')) AS redacted_md5
FROM masked
"""

QUERIES["t7_redact"] = (t7_redact, T7_ORACLE)


# --- E3: IVF (inverted-file) ANN --------------------------------------------------------

def e3_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: seeded-sample centroids (md5 order — no k-means iterations,
    so the oracle replays centroid choice exactly), broadcast assignment to
    nearest cell, queries probe their 4 nearest of 16 cells. The scale
    path where hyperplane LSH's fixed-bit recall is insufficient."""
    from peskas_timor_data_pipeline_spark.llm.similarity import cosine_topk_ivf

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 50)
    candidates = emb.filter(F.col("vec_id") >= 50)
    return cosine_topk_ivf(
        queries, candidates, "vec_id", "embedding",
        k=3, dim=DIM, n_cells=16, n_probe=4,
    )


E3_ORACLE = f"""
WITH cents AS (
  SELECT vec_id AS cell_id, embedding AS cvec
  FROM embeddings WHERE vec_id >= 50
  ORDER BY md5('cent#' || CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
),
c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings WHERE vec_id >= 50),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 50),
assign AS (
  SELECT cand_id, cell_id, cv,
         row_number() OVER (
           PARTITION BY cand_id
           ORDER BY ({_dot_sql('cv', 'cvec')})
                    / (sqrt({_dot_sql('cv', 'cv')}) * sqrt({_dot_sql('cvec', 'cvec')})) DESC,
                    cell_id
         ) AS rn
  FROM c CROSS JOIN cents
),
inv AS (SELECT cell_id, cand_id, cv FROM assign WHERE rn = 1),
probe AS (
  SELECT query_id, qv, cell_id,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY ({_dot_sql('qv', 'cvec')})
                    / (sqrt({_dot_sql('qv', 'qv')}) * sqrt({_dot_sql('cvec', 'cvec')})) DESC,
                    cell_id
         ) AS rn
  FROM q CROSS JOIN cents
),
probes AS (SELECT query_id, qv, cell_id FROM probe WHERE rn <= 4),
scored AS (
  SELECT query_id, cand_id,
         ({_dot_sql('qv', 'cv')})
         / (sqrt({_dot_sql('qv', 'qv')}) * sqrt({_dot_sql('cv', 'cv')})) AS cosine
  FROM probes JOIN inv USING (cell_id)
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
  FROM scored
)
SELECT query_id, cand_id, CAST(rank AS INTEGER) AS rank, round(cosine, 6) AS cosine
FROM ranked WHERE rank <= 3
"""

QUERIES["e3_ivf_ann"] = (e3_ivf_ann, E3_ORACLE)


# --- T8: deterministic weighted sampling without replacement ---------------------------

T8_N = 25


def t8_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus subsampling via Efraimidis-Spirakis A-Res:
    each doc gets key u^(1/w) (u = md5-derived uniform, w = its weight);
    the global top-n by key IS a weighted sample without replacement. The
    md5 uniform replaces the RNG, so the 'random' sample reproduces on any
    engine — and orderBy+limit compiles to TakeOrderedAndProject (per-
    partition top-n, driver merge of n·partitions rows), no global sort at
    100 TB."""
    from peskas_timor_data_pipeline_spark.operators.sketches import unit_hash

    docs = load(spark, sf_dir, "documents")
    w = (F.length("text") + 1).cast("double")  # weight: longer docs favored
    key = F.pow(unit_hash(F.col("doc_id")), 1.0 / w)
    return (
        docs.select("doc_id", "lang", key.alias("k"))
        .orderBy(F.desc("k"), F.asc("doc_id"))
        .limit(T8_N)
        .select("doc_id", "lang", F.round("k", 10).alias("sample_key"))
    )


_UNIT_HASH_DOC_SQL = (
    "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT + 1.0)"
    f" / {16 ** 12}.0"
)

T8_ORACLE = f"""
SELECT doc_id, lang, round(k, 10) AS sample_key
FROM (
  SELECT doc_id, lang,
         pow({_UNIT_HASH_DOC_SQL}, 1.0 / (length(text) + 1)) AS k
  FROM documents
)
ORDER BY k DESC, doc_id
LIMIT {T8_N}
"""

QUERIES["t8_weighted_sample"] = (t8_weighted_sample, T8_ORACLE)


# --- T9: repetition features (Gopher-style corpus filter) ------------------------------

def t9_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals used by production corpus filters
    (duplicate-token ratio, most-frequent-token share): one explode +
    per-(doc, token) count + per-doc re-aggregate — the count groupBy
    partial-aggregates map-side so the shuffle carries (doc, distinct-token)
    rows, not raw tokens."""
    from peskas_timor_data_pipeline_spark.llm.dedup import _spread

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = (
        _spread(docs)
        .select("doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    counts = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("top_freq"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            F.round(1.0 - F.col("n_distinct") / F.col("n_tokens"), 6).alias("dup_ratio"),
            F.round(F.col("top_freq") / F.col("n_tokens"), 6).alias("top_token_share"),
        )
    )


T9_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM documents
), counts AS (
  SELECT doc_id, tok, count(*) AS c FROM toks WHERE tok <> '' GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       count(*) AS n_distinct,
       round(1.0 - count(*) * 1.0 / sum(c), 6) AS dup_ratio,
       round(max(c) * 1.0 / sum(c), 6) AS top_token_share
FROM counts GROUP BY doc_id
"""

QUERIES["t9_repetition"] = (t9_repetition, T9_ORACLE)


# --- T10: exact heavy hitters (corpus-level top-k frequent tokens) --------------------

def t10_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 most frequent tokens across the corpus, exact. The
    groupBy(token) partial-aggregates map-side, so the shuffle carries one
    (token, partial_count) pair per distinct token per partition — not raw
    token occurrences — and the ordered limit compiles to
    TakeOrderedAndProject (per-partition top-k, single-reduce merge), never
    a global sort (tests/test_plans.py pins this). Ordering is total
    (n DESC, token ASC), so the selected set is deterministic across
    engines even at the count boundary."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("token")
    ).filter(F.col("token") != "")
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(50)
    )


T10_ORACLE = """
SELECT token, count(*) AS n
FROM (
  SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS token
  FROM documents
)
WHERE token <> ''
GROUP BY token
ORDER BY n DESC, token
LIMIT 50
"""

QUERIES["t10_heavy_hitters"] = (t10_heavy_hitters, T10_ORACLE)


# --- D6: train/eval decontamination (n-gram overlap against training corpus) ----------

def d6_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """src0 documents as the eval set, everything else as the training
    corpus; per eval doc, the share of its distinct 16-char grams found in
    the train side. Both sides collapse to distinct grams before the join,
    so the shuffle carries each gram once (see llm.dedup.decontaminate)."""
    from peskas_timor_data_pipeline_spark.llm.dedup import decontaminate

    docs = load(spark, sf_dir, "documents")
    ev = docs.filter(F.col("source") == "src0").select("doc_id", "text")
    tr = docs.filter(F.col("source") != "src0").select("doc_id", "text")
    return decontaminate(ev, tr, "doc_id", "text", k_shingle=16)


D6_ORACLE = """
WITH ev AS MATERIALIZED (
  SELECT DISTINCT doc_id, substr(lower(text), CAST(i AS INTEGER), 16) AS sh
  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text) - 15)) AS i
        FROM documents WHERE source = 'src0' AND length(text) >= 16)
), tr AS MATERIALIZED (
  SELECT DISTINCT substr(lower(text), CAST(i AS INTEGER), 16) AS sh
  FROM (SELECT text, unnest(generate_series(1, length(text) - 15)) AS i
        FROM documents WHERE source <> 'src0' AND length(text) >= 16)
), per_doc AS MATERIALIZED (
  SELECT e.doc_id,
         count(*) AS n_grams,
         CAST(sum(CASE WHEN t.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
  FROM ev e LEFT JOIN tr t USING (sh)
  GROUP BY e.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_grams, 0) AS n_grams,
       coalesce(p.n_hit, 0) AS n_hit,
       round(CASE WHEN coalesce(p.n_grams, 0) > 0
                  THEN coalesce(p.n_hit, 0) * 1.0 / p.n_grams
                  ELSE 0.0 END, 6) AS contam_share,
       coalesce(p.n_hit, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE source = 'src0') d
LEFT JOIN per_doc p USING (doc_id)
"""

QUERIES["d6_decontaminate"] = (d6_decontaminate, D6_ORACLE)


# --- T11: deterministic shuffle-sharding for training export --------------------------

N_SHARDS = 8


def t11_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded global shuffle for training-data export: every doc gets a
    reproducible pseudo-random md5 key; shard = key prefix mod N (a pure
    map — no shuffle to ASSIGN shards), position-in-shard = row_number
    within the shard ordered by key (shuffles each row once, to its shard;
    per-shard sort is shard-local, exactly the sort the shard writer needs
    anyway). No global sort, no single-partition window, and the layout
    reproduces bit-for-bit on any engine."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    key = F.md5(F.concat_ws("#", F.lit("seed42"), F.col("doc_id").cast("string")))
    shard = F.conv(F.substring(key, 1, 12), 16, 10).cast("long") % N_SHARDS
    w = Window.partitionBy("shard").orderBy(F.col("__key__").asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", key.alias("__key__"), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", "pos")
    )


T11_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id,
         md5(concat_ws('#', 'seed42', CAST(doc_id AS VARCHAR))) AS k,
         ('0x' || substr(md5(concat_ws('#', 'seed42', CAST(doc_id AS VARCHAR))), 1, 12))::BIGINT % {N_SHARDS} AS shard
  FROM documents
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS INTEGER) AS pos
FROM keyed
"""

QUERIES["t11_shuffle_shards"] = (t11_shuffle_shards, T11_ORACLE)


# --- T12: token-window document chunking (shuffle-free narrow op) ---------------------

def t12_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-token chunks with stride 32 (50% overlap) over every document —
    tokenize, generate starts, posexplode, slice, all inside whole-stage
    codegen with no shuffle (tests/test_plans.py pins the no-Exchange
    plan)."""
    from peskas_timor_data_pipeline_spark.llm.text import chunk_documents

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(docs, "doc_id", "text", chunk_tokens=64, stride=32)


T12_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS tk
  FROM documents
), starts AS (
  SELECT doc_id, tk, unnest(generate_series(0, (len(tk) - 1) // 32)) AS i
  FROM toks WHERE len(tk) > 0
)
SELECT doc_id,
       CAST(i AS INTEGER) AS chunk_id,
       len(list_slice(tk, CAST(i * 32 + 1 AS INTEGER), CAST(i * 32 + 64 AS INTEGER))) AS n_tokens,
       array_to_string(list_slice(tk, CAST(i * 32 + 1 AS INTEGER), CAST(i * 32 + 64 AS INTEGER)), ' ') AS chunk_text
FROM starts
"""

QUERIES["t12_chunking"] = (t12_chunking, T12_ORACLE)


# --- E4: per-group embedding centroids (element-wise mean, no explode) ----------------

def _vec_to_micros_str(col: str):
    """Serialize an array<double> of 6-dp-rounded values to a ','-joined
    string of exact integer micros — the driver's hasher cannot hash
    array-valued columns (CORRECTNESS_r03: TypeError unhashable 'list'),
    and integer-in-string form is also float-format-proof across engines."""
    return F.array_join(
        F.expr(f"transform({col}, x -> cast(cast(round(x * 1e6) as long) as string))"),
        ",",
    )


def e4_group_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean embedding per label via 64 scalar partial-sum aggregates —
    shuffle state is (sum, count) per dimension per group, never raw
    vectors or exploded rows (see llm.similarity.group_centroids).
    Centroids serialize to integer-micro strings for the driver hasher."""
    from peskas_timor_data_pipeline_spark.llm.similarity import group_centroids

    emb = load(spark, sf_dir, "embeddings")
    out = group_centroids(emb, "label", "embedding", dim=DIM)
    return out.select("label", _vec_to_micros_str("centroid").alias("centroid"), "n")


E4_ORACLE = f"""
WITH long AS (
  SELECT label, g.i AS i, round(avg(embedding[g.i]), 6) AS m
  FROM embeddings, (SELECT unnest(generate_series(1, {DIM})) AS i) g
  GROUP BY label, g.i
), n_per AS (
  SELECT label, count(*) AS n FROM embeddings GROUP BY label
)
SELECT l.label,
       string_agg(CAST(CAST(round(l.m * 1e6) AS BIGINT) AS VARCHAR), ',' ORDER BY l.i) AS centroid,
       any_value(np.n) AS n
FROM long l JOIN n_per np USING (label)
GROUP BY l.label
"""

QUERIES["e4_group_centroids"] = (e4_group_centroids, E4_ORACLE)


# --- E5: k-means Lloyd refinement of the IVF coarse quantizer -------------------------

def e5_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One training iteration over the 16 seeded IVF cells: broadcast
    argmax-cosine assignment (max_by aggregate, no per-vector window sort)
    + per-dim mean recompute. Deterministic end to end, so the oracle
    replays seed choice, assignment, and the refit exactly.

    Bench note: wall time at fixture scale is ~4 s and CONSTANT from
    sf0.001 to sf0.1 — it is Catalyst compile cost for the dim-wide
    expression trees (measured, not guessed), which amortizes to zero on
    real data volumes."""
    from peskas_timor_data_pipeline_spark.llm.similarity import (
        ivf_centroids,
        kmeans_refine,
    )

    emb = load(spark, sf_dir, "embeddings")
    cents = ivf_centroids(emb, "vec_id", "embedding", n_cells=16, dim=DIM)
    out = kmeans_refine(emb, cents, "vec_id", "embedding", dim=DIM)
    return out.select(
        "cell_id", _vec_to_micros_str("centroid").alias("centroid"), "n"
    )


E5_ORACLE = f"""
WITH cents AS (
  SELECT vec_id AS cell_id, embedding AS cvec
  FROM embeddings
  ORDER BY md5('cent#' || CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
),
assign AS (
  SELECT vec_id, embedding, cell_id,
         row_number() OVER (
           PARTITION BY vec_id
           ORDER BY ({_dot_sql('embedding', 'cvec')})
                    / (sqrt({_dot_sql('embedding', 'embedding')}) * sqrt({_dot_sql('cvec', 'cvec')})) DESC,
                    cell_id
         ) AS rn
  FROM embeddings CROSS JOIN cents
),
best AS (SELECT vec_id, embedding, cell_id FROM assign WHERE rn = 1),
long AS (
  SELECT cell_id, g.i AS i, round(avg(embedding[g.i]), 6) AS m
  FROM best, (SELECT unnest(generate_series(1, {DIM})) AS i) g
  GROUP BY cell_id, g.i
),
n_per AS (SELECT cell_id, count(*) AS n FROM best GROUP BY cell_id)
SELECT l.cell_id,
       string_agg(CAST(CAST(round(l.m * 1e6) AS BIGINT) AS VARCHAR), ',' ORDER BY l.i) AS centroid,
       any_value(np.n) AS n
FROM long l JOIN n_per np USING (cell_id)
GROUP BY l.cell_id
"""

QUERIES["e5_kmeans_refine"] = (e5_kmeans_refine, E5_ORACLE)


# --- MM2: multimodal resize plumbing, oracle-checked end to end -----------------------

def mm2_resize_plumbing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInPandas binary->binary resize path (decode STUBBED as a
    deterministic byte clamp) executed for real — Arrow batches in, typed
    metadata out — then decoded back to text so DuckDB can value-check the
    whole Python round trip, not just row counts. Docs are ASCII, so byte
    and char offsets agree between the two engines."""
    from peskas_timor_data_pipeline_spark.llm.multimodal import (
        attach_binary,
        resize_images,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    media = attach_binary(docs, "text", "content")
    resized = resize_images(media, "doc_id", "content", target_w=16, target_h=8)
    return resized.select(
        "doc_id",
        F.length("content").alias("n_bytes"),
        F.col("content").cast("string").alias("payload_str"),
        "meta_width",
        "meta_height",
    )


MM2_ORACLE = """
SELECT doc_id,
       least(strlen(text), 128) AS n_bytes,
       substr(text, 1, 128) AS payload_str,
       16 AS meta_width,
       8 AS meta_height
FROM documents
"""

QUERIES["mm2_resize_plumbing"] = (mm2_resize_plumbing, MM2_ORACLE)


# --- Media fixtures for the mm queries ------------------------------------------------

def _synth_media(docs: DataFrame, make: Callable[[int], bytes]) -> DataFrame:
    """(doc_id, content) with ``make(doc_id)``'s bytes as each document's
    media payload — the reference's attachments column
    (R/pt_nest_attachments.R:40-72) synthesized from a formula the
    query's oracle replays."""
    import pandas as pd

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content": [make(int(did)) for did in pdf["doc_id"]],
                }
            )

    return docs.mapInPandas(synth, schema="doc_id long, content binary")


def _mm_ppm(did: int) -> bytes:
    """The mm3/mm8/mm11 image: a P6 PPM of width doc_id%13+1, height
    doc_id%7+1, pixel(y,x,c) = (doc_id+x+y+c)%256."""
    import numpy as np

    w, h = did % 13 + 1, did % 7 + 1
    y, x, c = np.indices((h, w, 3))
    return encode_ppm(((did + x + y + c) % 256).astype(np.uint8))


def _mm_wav(did: int) -> bytes:
    """The mm4/mm7/mm10 clip: 16-bit PCM at 8 kHz, n = (doc_id%50+1)*80
    samples, sample[i] = ((doc_id+i)%256 - 128)*100."""
    import numpy as np

    i = np.arange((did % 50 + 1) * 80)
    return encode_wav((((did + i) % 256 - 128) * 100).astype("<i2"), sample_rate=8000)


# --- MM3: REAL image decode (pure-Python PPM codec) -----------------------------------

def mm3_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL decode: synthesize a (doc_id-derived) P6 PPM image
    per document — width = doc_id%13+1, height = doc_id%7+1, pixel(y,x,c)
    = (doc_id+x+y+c)%256 — then recover width/height/channels/mean pixel
    FROM THE BYTES with the pure-Python decoder (llm/multimodal.py). The
    oracle recomputes the expected values from the generating formula, so
    a header-parse or pixel-layout bug breaks the hash."""
    from peskas_timor_data_pipeline_spark.llm.multimodal import decode_image_meta

    docs = load(spark, sf_dir, "documents").select("doc_id")

    media = _synth_media(docs, _mm_ppm)
    meta = decode_image_meta(media, "doc_id")
    return meta.select(
        "doc_id", "width", "height", "channels",
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )


MM3_ORACLE = """
WITH dims AS (
  SELECT doc_id, doc_id % 13 + 1 AS w, doc_id % 7 + 1 AS h FROM documents
), flat AS (
  SELECT doc_id, w, h, unnest(generate_series(0, w * h * 3 - 1)) AS t
  FROM dims
)
SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       3 AS channels,
       round(avg(CAST((doc_id + (t % (w * 3)) // 3 + t // (w * 3) + t % 3) % 256
                      AS DOUBLE)), 6) AS mean_pixel
FROM flat GROUP BY doc_id, w, h
"""

QUERIES["mm3_image_decode"] = (mm3_image_decode, MM3_ORACLE)


# --- MM4: REAL audio decode (pure-Python PCM WAV codec) ---------------------------------

def mm4_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a 16-bit PCM WAV per document — n = (doc_id%50+1)*80
    samples at 8 kHz, sample[i] = ((doc_id+i)%256 - 128)*100 — then recover
    rate/frames/duration/RMS FROM THE BYTES (RIFF chunk walk,
    llm/multimodal.py::decode_audio). RMS stays hash-exact because the
    normalized samples are dyadic rationals whose squares sum exactly in
    double regardless of summation order."""
    from peskas_timor_data_pipeline_spark.llm.multimodal import decode_audio_meta

    docs = load(spark, sf_dir, "documents").select("doc_id")

    media = _synth_media(docs, _mm_wav)
    meta = decode_audio_meta(media, "doc_id")
    return meta.select(
        "doc_id", "sample_rate", "n_channels", "n_samples",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 6).alias("rms"),
    )


MM4_ORACLE = """
WITH dims AS (
  SELECT doc_id, (doc_id % 50 + 1) * 80 AS n FROM documents
), flat AS (
  SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM dims
), stats AS (
  SELECT doc_id, n,
         avg(pow((((doc_id + i) % 256 - 128) * 100) / 32768.0, 2)) AS msq
  FROM flat GROUP BY doc_id, n
)
SELECT doc_id, 8000 AS sample_rate, 1 AS n_channels, CAST(n AS BIGINT) AS n_samples,
       round(n / 8000.0, 6) AS duration_s,
       round(sqrt(msq), 6) AS rms
FROM stats
"""

QUERIES["mm4_audio_decode"] = (mm4_audio_decode, MM4_ORACLE)


# --- MM5: REAL video frame sampling (pure-Python Y4M codec) -----------------------------

def mm5_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a Y4M clip per document — doc_id%5+1 frames of 8x6 luma
    filled with (doc_id+frame)%256 — decode the actual bytes and keep every
    2nd frame with its luma mean (llm/multimodal.py::sample_video_frames).
    One row per sampled frame, hash-checked against the generating
    formula."""
    import numpy as np

    from peskas_timor_data_pipeline_spark.llm.multimodal import (
        encode_y4m,
        sample_video_frames,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(did: int) -> bytes:
        return encode_y4m(
            np.stack(
                [
                    np.full((6, 8), (did + f) % 256, dtype=np.uint8)
                    for f in range(did % 5 + 1)
                ]
            )
        )

    media = _synth_media(docs, make)
    return sample_video_frames(media, "doc_id", every_n_frames=2).select(
        "doc_id", "frame_idx", "width", "height",
        F.round("y_mean", 6).alias("y_mean"),
    )


MM5_ORACLE = """
WITH dims AS (
  SELECT doc_id, doc_id % 5 + 1 AS nf FROM documents
)
SELECT doc_id, CAST(f AS INTEGER) AS frame_idx, 8 AS width, 6 AS height,
       round(CAST((doc_id + f) % 256 AS DOUBLE), 6) AS y_mean
FROM (SELECT doc_id, unnest(generate_series(0, nf - 1, 2)) AS f FROM dims)
"""

QUERIES["mm5_video_frame_sample"] = (mm5_video_frame_sample, MM5_ORACLE)


# --- T13: per-source quality-percentile gate ------------------------------------------

def t13_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep documents at or above their source's median quality score —
    the per-domain corpus gate (each crawl source is filtered against its
    OWN distribution, so a clean source doesn't crowd out a noisy one).

    Scale shape: thresholds are a tiny per-source aggregate (exact
    percentile over groups, partial-aggregated) broadcast back for the
    filter — NOT a percent_rank window, which would total-sort every doc
    within each source partition."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    q = quality_features(docs, "text").select("doc_id", "source", "quality_score")
    thr = q.groupBy("source").agg(F.percentile("quality_score", 0.5).alias("thr"))
    return (
        q.join(F.broadcast(thr), "source")
        .filter(F.col("quality_score") >= F.col("thr"))
        .select("doc_id", "source", "quality_score")
    )


T13_ORACLE = f"""
WITH scored AS (
{T2_ORACLE.replace("SELECT doc_id,", "SELECT doc_id, source,")}
), th AS (
  SELECT source, quantile_cont(quality_score, 0.5) AS thr
  FROM scored GROUP BY source
)
SELECT s.doc_id, s.source, s.quality_score
FROM scored s JOIN th USING (source)
WHERE s.quality_score >= th.thr
"""

QUERIES["t13_quality_gate"] = (t13_quality_gate, T13_ORACLE)


# --- T14: leakage-aware train/val/test split ------------------------------------------

def t14_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 split assigned by md5 of the SOURCE, not the document —
    every doc from one crawl source lands in the same split, so
    near-duplicates within a source can never straddle train/eval (the
    leakage mode a per-doc split invites; d6 measures exactly that
    cross-source residual). Pure map over a hash of the group key: no
    shuffle to assign, reproducible on any engine; output aggregates per
    (source, split) for a bounded check."""
    docs = load(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("split#"), F.col("source"))), 1, 12),
            16, 10,
        ).cast("double")
        / F.lit(float(16**12))
    )
    split = (
        F.when(u < 0.8, F.lit("train"))
        .when(u < 0.9, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


T14_ORACLE = f"""
WITH assigned AS (
  SELECT source,
         ('0x' || substr(md5('split#' || source), 1, 12))::BIGINT / {float(16 ** 12)} AS u
  FROM documents
)
SELECT source,
       CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
       count(*) AS n_docs
FROM assigned GROUP BY 1, 2
"""

QUERIES["t14_group_split"] = (t14_group_split, T14_ORACLE)


# --- E6: int8 scalar quantization of embeddings ---------------------------------------

def e6_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension min/max calibration (2*dim scalar aggregates, one
    broadcast row) + narrow per-row quantization to int8 — the 4x memory
    lever for lake-scale vector stores; vectors never shuffle (see
    llm.similarity.quantize_int8). Like e5, fixture wall time (~4 s) is
    Catalyst compile cost for the dim-wide trees — constant across scale
    factors, amortizing to zero on real volumes."""
    from peskas_timor_data_pipeline_spark.llm.similarity import quantize_int8

    emb = load(spark, sf_dir, "embeddings")
    out = quantize_int8(emb, "vec_id", "embedding", dim=DIM)
    # driver-hashable scalars: int codes join directly; the 9-dp scale
    # steps serialize as exact integer nanos
    return out.select(
        "vec_id",
        F.array_join(
            F.expr("transform(qvec, x -> cast(x as string))"), ","
        ).alias("qvec"),
        F.array_join(
            F.expr("transform(scale, x -> cast(cast(round(x * 1e9) as long) as string))"),
            ",",
        ).alias("scale"),
    )


def _e6_sql() -> str:
    cal = ", ".join(
        f"min(embedding[{i}]) AS lo{i}, max(embedding[{i}]) AS hi{i}"
        for i in range(1, DIM + 1)
    )
    q = ", ".join(
        f"CASE WHEN CAST(hi{i} AS DOUBLE) - CAST(lo{i} AS DOUBLE) > 0 "
        f"THEN CAST(round((CAST(embedding[{i}] AS DOUBLE) - CAST(lo{i} AS DOUBLE))"
        f" / (CAST(hi{i} AS DOUBLE) - CAST(lo{i} AS DOUBLE)) * 255) AS INTEGER) - 128 "
        f"ELSE 0 END"
        for i in range(1, DIM + 1)
    )
    s = ", ".join(
        f"CAST(round(round(CASE WHEN CAST(hi{i} AS DOUBLE) - CAST(lo{i} AS DOUBLE) > 0 "
        f"THEN (CAST(hi{i} AS DOUBLE) - CAST(lo{i} AS DOUBLE)) / 255 ELSE 0 END, 9) * 1e9) AS BIGINT)"
        for i in range(1, DIM + 1)
    )
    return (
        f"WITH cal AS (SELECT {cal} FROM embeddings) "
        f"SELECT vec_id, array_to_string([{q}], ',') AS qvec, "
        f"array_to_string([{s}], ',') AS scale FROM embeddings, cal"
    )


E6_ORACLE = _e6_sql()

QUERIES["e6_quantize_int8"] = (e6_quantize_int8, E6_ORACLE)


# --- T15: unigram log-probability scoring (perplexity-style quality signal) -----------

def t15_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean unigram log-probability under the corpus's own token
    distribution — the cheap stand-in for the LM-perplexity quality filter
    (CCNet-style): word-salad scores low, repetitive text scores high.

    Scale shape: the vocabulary is ONE groupBy over tokens (map-side
    partial counts), and scoring is a token->logprob equi-join; the
    per-doc mean partial-aggregates. No broadcast hint — the vocab can be
    millions of types at corpus scale, so AQE picks the strategy from the
    real sizes."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("token"),
    ).filter(F.col("token") != "")
    total = toks.groupBy().agg(F.count(F.lit(1)).alias("n_total"))
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_tok"))
        .crossJoin(F.broadcast(total))
        .select("token", (F.log(F.col("n_tok")) - F.log("n_total")).alias("logp"))
    )
    return (
        toks.join(vocab, "token")
        .groupBy("doc_id")
        .agg(
            F.round(F.avg("logp"), 6).alias("mean_logp"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


T15_ORACLE = """
WITH toks AS (
  SELECT doc_id, token FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS token
    FROM documents
  ) WHERE token <> ''
), total AS (SELECT count(*) AS n_total FROM toks),
vocab AS (
  SELECT token, ln(count(*)) - ln(any_value(t.n_total)) AS logp
  FROM toks, total t GROUP BY token
)
SELECT doc_id,
       round(avg(v.logp), 6) AS mean_logp,
       count(*) AS n_tokens
FROM toks JOIN vocab v USING (token)
GROUP BY doc_id
"""

QUERIES["t15_unigram_logprob"] = (t15_unigram_logprob, T15_ORACLE)


# --- E7: product quantization encode (8x memory after int8) ---------------------------

def e7_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codes + reconstruction error per vector: one crossJoin against
    the broadcast seeded codebook, all 8 subvector argmins in a single
    aggregation pass (llm/similarity.py::pq_encode)."""
    from peskas_timor_data_pipeline_spark.llm.similarity import pq_encode

    emb = load(spark, sf_dir, "embeddings")
    out = pq_encode(emb, "vec_id", "embedding", dim=DIM, m_sub=8, k=16)
    return out.select(
        "vec_id",
        F.array_join(
            F.expr("transform(codes, x -> cast(x as string))"), ","
        ).alias("codes"),
        F.round("recon_err", 6).alias("recon_err"),
    )


def _e7_sql() -> str:
    m_sub, sub, k = 8, DIM // 8, 16
    dists = ", ".join(
        " + ".join(
            f"(CAST(e.embedding[{j}] AS DOUBLE) - CAST(c.cvec[{j}] AS DOUBLE))"
            f" * (CAST(e.embedding[{j}] AS DOUBLE) - CAST(c.cvec[{j}] AS DOUBLE))"
            for j in range(m * sub + 1, (m + 1) * sub + 1)
        )
        + f" AS d{m}"
        for m in range(m_sub)
    )
    # lexicographic struct-min = Spark's min_by(cid, struct(dist, cid))
    aggs = ", ".join(
        f"min(struct_pack(d := d{m}, cid := cid)) AS s{m}" for m in range(m_sub)
    )
    codes = ", ".join(f"CAST(s{m}.cid AS INTEGER)" for m in range(m_sub))
    errs = " + ".join(f"s{m}.d" for m in range(m_sub))
    return f"""
WITH ordv AS (
  SELECT vec_id, embedding, md5(concat('pq#', CAST(vec_id AS VARCHAR))) AS o
  FROM embeddings
), cb AS (
  SELECT row_number() OVER (ORDER BY o, vec_id) AS cid, embedding AS cvec
  FROM ordv ORDER BY o, vec_id LIMIT {k}
), pairs AS (
  SELECT e.vec_id, c.cid, {dists} FROM embeddings e CROSS JOIN cb c
), agg AS (
  SELECT vec_id, {aggs} FROM pairs GROUP BY vec_id
)
SELECT vec_id, array_to_string([{codes}], ',') AS codes, round({errs}, 6) AS recon_err FROM agg
"""


QUERIES["e7_pq_encode"] = (e7_pq_encode, _e7_sql())


# --- E8: PQ asymmetric-distance top-k (the serving scan) ------------------------------

def e8_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC search over PQ codes: per-query distance tables to the codebook
    (broadcast cid-ordered arrays), candidate distance = 8 array reads
    summed — no float-vector scan (llm/similarity.py::pq_adc_topk)."""
    from peskas_timor_data_pipeline_spark.llm.similarity import (
        pq_adc_topk,
        pq_codebook,
        pq_encode,
    )

    emb = load(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb, "vec_id", "embedding", k=16)
    enc = pq_encode(emb, "vec_id", "embedding", dim=DIM, m_sub=8, k=16)
    qs = emb.filter(F.col("vec_id") % 97 == 0)
    # prefilter=False: the fixture is thousands of candidates, far below
    # the threshold pass's break-even (and `enc` here is an unpersisted
    # aggregation lineage, which the prefilter's extra reads would re-run).
    # The prefilter path is pinned by test_similarity_ivf (exactness vs the
    # plain window) and test_plans (reduced-exchange shape).
    return pq_adc_topk(
        qs, enc, cb, "vec_id", "embedding", dim=DIM, m_sub=8, k_top=3,
        prefilter=False,
    )


def _e8_sql() -> str:
    m_sub, sub, k = 8, DIM // 8, 16

    def dist_block(tbl: str, prefix: str) -> str:
        return ", ".join(
            " + ".join(
                f"(CAST({tbl}.embedding[{j}] AS DOUBLE) - CAST(c.cvec[{j}] AS DOUBLE))"
                f" * (CAST({tbl}.embedding[{j}] AS DOUBLE) - CAST(c.cvec[{j}] AS DOUBLE))"
                for j in range(m * sub + 1, (m + 1) * sub + 1)
            )
            + f" AS {prefix}{m}"
            for m in range(m_sub)
        )

    # Long-form ADC (r09, VERDICT r08 ask #1): the previous oracle joined
    # a wide codes row against dtab EIGHT times — 8 concurrent hash joins
    # whose ~2MB block-granular minimums pinned together in one deep DAG
    # OOM'd the driver's tighter shared-memory DuckDB even though the data
    # is tiny.  Restructure: unpivot codes and the query distance tables to
    # (m, cid) rows, ONE join, then re-assemble the distance as a fixed
    # left-associated sum of 8 single-element conditional sums — each
    # sum() sees exactly one row (one cid per (vec, m)), so no float
    # summation-order hazard, and the outer + chain is the same
    # association order as the engine's map-lookup sum.
    d_case = " ".join(f"WHEN {m} THEN d{m}" for m in range(m_sub))
    qd_case = " ".join(f"WHEN {m} THEN qd{m}" for m in range(m_sub))
    dist_sum = " + ".join(
        f"sum(CASE WHEN x.m = {m} THEN t.qd END)" for m in range(m_sub)
    )
    return f"""
WITH ordv AS (
  SELECT vec_id, embedding, md5(concat('pq#', CAST(vec_id AS VARCHAR))) AS o
  FROM embeddings
), cb AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY o, vec_id) AS cid, embedding AS cvec
  FROM ordv ORDER BY o, vec_id LIMIT {k}
), subs AS (
  SELECT unnest(range({m_sub})) AS m
), pairs AS (
  SELECT e.vec_id, c.cid, {dist_block('e', 'd')} FROM embeddings e CROSS JOIN cb c
), codes_long AS MATERIALIZED (
  SELECT vec_id, m,
         struct_extract(min(struct_pack(d := d, cid := cid)), 'cid') AS cid
  FROM (SELECT vec_id, cid, u.m, CASE u.m {d_case} END AS d
        FROM pairs CROSS JOIN subs u)
  GROUP BY vec_id, m
), dtab_wide AS (
  SELECT q.vec_id AS query_id, c.cid, {dist_block('q', 'qd')}
  FROM embeddings q CROSS JOIN cb c WHERE q.vec_id % 97 = 0
), dtab AS MATERIALIZED (
  SELECT query_id, cid, u.m, CASE u.m {qd_case} END AS qd
  FROM dtab_wide CROSS JOIN subs u
), adc AS (
  SELECT t.query_id, x.vec_id AS cand_id, {dist_sum} AS dist
  FROM codes_long x JOIN dtab t ON t.m = x.m AND t.cid = x.cid
  GROUP BY t.query_id, x.vec_id
)
SELECT query_id, cand_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, cand_id) AS INTEGER) AS rank,
       round(dist, 6) AS adc_dist
FROM adc
QUALIFY rank <= 3
"""


QUERIES["e8_pq_adc_topk"] = (e8_pq_adc_topk, _e8_sql())


# --- T16: sequence packing into fixed token budgets -----------------------------------

def t16_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequential packing of docs into 256-token context bins
    (llm/text.py::pack_sequences): md5-sharded, md5-ordered, exact greedy
    rule per shard. Token counts are a deterministic synthetic
    (strlen%97+1) so the packing logic itself is what the oracle checks
    (via a recursive CTE replaying the same walk)."""
    from peskas_timor_data_pipeline_spark.llm.text import pack_sequences

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", (F.length("text") % 97 + 1).cast("long").alias("nt")
    )
    return pack_sequences(docs, "doc_id", "nt", budget=256)


T16_ORACLE = """
WITH RECURSIVE prepped AS (
  SELECT ('0x' || substr(md5(concat_ws('#', 'pack42', CAST(doc_id AS VARCHAR))), 1, 12))::BIGINT % 64 AS shard,
         doc_id,
         CAST(length(text) % 97 + 1 AS BIGINT) AS nt,
         md5(concat_ws('~', 'pack42', CAST(doc_id AS VARCHAR))) AS ord
  FROM documents
), ordered AS (
  SELECT shard, doc_id, nt,
         row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS rn
  FROM prepped
), walk AS (
  SELECT shard, doc_id, nt, rn,
         CAST(0 AS BIGINT) AS bin_id, CAST(0 AS BIGINT) AS offset_tokens, nt AS fill
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.doc_id, o.nt, o.rn,
         CASE WHEN w.fill > 0 AND w.fill + o.nt > 256 THEN w.bin_id + 1 ELSE w.bin_id END,
         CASE WHEN w.fill > 0 AND w.fill + o.nt > 256 THEN CAST(0 AS BIGINT) ELSE w.fill END,
         CASE WHEN w.fill > 0 AND w.fill + o.nt > 256 THEN o.nt ELSE w.fill + o.nt END
  FROM walk w JOIN ordered o ON o.shard = w.shard AND o.rn = w.rn + 1
)
SELECT shard, doc_id, bin_id, offset_tokens, nt AS n_tokens FROM walk
"""

QUERIES["t16_pack_sequences"] = (t16_pack_sequences, T16_ORACLE)


# --- D7: intra-corpus repeated-long-gram share ("exact substring dedup lite") ---------

def d7_repeated_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of each doc's distinct 32-grams appearing in at least one
    OTHER document — the boilerplate/template gate
    (llm/dedup.py::repeated_gram_share).

    Shingles over a printable-ASCII projection of the text (strip every
    byte outside 0x20-0x7E BEFORE lowercasing/shingling, in both engine
    and oracle). This kills the whole cross-engine Unicode surface that
    failed the driver hash twice (r03 float form, r04 integer form):
    Spark (Java, UTF-16 code units, locale-touched case fold) and DuckDB
    (code points, locale-free) disagree about length()/substring()/lower()
    on multibyte text, and a 32-gram sweep hits every such character at 32
    offsets. On ASCII the three functions are bit-identical everywhere.
    Companion diagnostic: d7b_gram_checksum localizes any future mismatch
    to gram CONTENT (checksum differs) vs counting logic (only counts
    differ)."""
    from peskas_timor_data_pipeline_spark.llm.dedup import repeated_gram_share

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.regexp_replace(F.col("text"), "[^\\x20-\\x7E]", "").alias("text")
    )
    return repeated_gram_share(docs, "doc_id", "text", k_shingle=32)


# Strip-then-lower order matters (lower() can expand some non-ASCII chars
# into ASCII sequences); DuckDB regexp_replace needs the explicit 'g' flag
# (Spark's is global by default). The MATERIALIZED hints stay (VERDICT r05
# floated removing them as a version surface): the r05 driver ran this
# oracle with err=null, proving its DuckDB parses them, and they are
# load-bearing for the 100MB memory envelope — the actual r05 divergence
# was the HUGEINT n_shared column below, not the hints.
_D7_NORM = (
    "SELECT doc_id, lower(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g')) AS t "
    "FROM documents"
)

D7_ORACLE = f"""
WITH norm AS ({_D7_NORM}),
grams AS MATERIALIZED (
  SELECT DISTINCT doc_id, substr(t, CAST(i AS INTEGER), 32) AS sh
  FROM (SELECT doc_id, t, unnest(generate_series(1, length(t) - 31)) AS i
        FROM norm WHERE length(t) >= 32)
), gd AS MATERIALIZED (
  SELECT sh, count(*) AS docs FROM grams GROUP BY sh
), per_doc AS MATERIALIZED (
  SELECT doc_id, count(*) AS n_grams,
         sum(CASE WHEN docs > 1 THEN 1 ELSE 0 END) AS n_shared
  FROM grams JOIN gd USING (sh) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
       -- CAST is load-bearing: sum(CASE..) is HUGEINT in DuckDB, and HUGEINT
       -- is the one integer type whose pandas/arrow materialization degrades
       -- to float64/decimal128 ("5.0" vs "5" in a stringified value hash).
       -- A type census of all 220 oracles found exactly one HUGEINT output
       -- column: this one — and d7 was the only persistent driver hash-fail
       -- (r03-r05) while its all-BIGINT twin d7b passed in the same runs.
       CAST(coalesce(n_shared, 0) AS BIGINT) AS n_shared,
       CAST(CASE WHEN coalesce(n_grams, 0) > 0
                 THEN (coalesce(n_shared, 0) * 1000000) // n_grams
                 ELSE 0 END AS BIGINT) AS dup_ppm
FROM documents d LEFT JOIN per_doc USING (doc_id)
"""

QUERIES["d7_repeated_grams"] = (d7_repeated_grams, D7_ORACLE)


def d7b_gram_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document checksum of the EXACT d7 gram set: count + sum of the
    first-48-bits-of-md5 over each distinct 32-gram. Diagnostic twin for
    d7_repeated_grams — if d7's hash ever diverges again, this row-level
    checksum says WHICH documents' gram content differs between engines
    (content divergence) versus none (pure counting divergence), so the
    next mismatch localizes itself instead of costing a round."""
    from peskas_timor_data_pipeline_spark.llm.dedup import shingle_rows

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.regexp_replace(F.col("text"), "[^\\x20-\\x7E]", "").alias("text")
    )
    grams = shingle_rows(docs, "doc_id", "text", 32).distinct()
    agg = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(
            F.conv(F.substring(F.md5("sh"), 1, 12), 16, 10).cast("long")
        ).alias("gram_sum"),
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("gram_sum", F.lit(0)).cast("long").alias("gram_sum"),
        )
    )


D7B_ORACLE = f"""
WITH norm AS ({_D7_NORM}),
grams AS MATERIALIZED (
  SELECT DISTINCT doc_id, substr(t, CAST(i AS INTEGER), 32) AS sh
  FROM (SELECT doc_id, t, unnest(generate_series(1, length(t) - 31)) AS i
        FROM norm WHERE length(t) >= 32)
), agg AS (
  SELECT doc_id, count(*) AS n_grams,
         sum(('0x' || substr(md5(sh), 1, 12))::BIGINT) AS gram_sum
  FROM grams GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(gram_sum, 0) AS BIGINT) AS gram_sum
FROM documents d LEFT JOIN agg USING (doc_id)
"""

QUERIES["d7b_gram_checksum"] = (d7b_gram_checksum, D7B_ORACLE)


def d7c_shared_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second diagnostic twin for d7_repeated_grams, one filter away from
    d7b: checksum (count + md5-48-bit-prefix sum) of each document's
    SHARED grams only — the distinct 32-grams whose corpus document count
    exceeds 1. d7b checksums the full gram set and proved per-doc gram
    CONTENT parity in the r05 driver env while d7 still hash-failed; this
    twin walks the remaining path (the gram->doc-count aggregation and the
    __docs__ > 1 filter) with the same BIGINT-everywhere output discipline,
    so any future d7 divergence localizes to either the shared-set
    membership (this checksum differs, and says which docs) or the final
    ppm arithmetic (this passes, dup_ppm differs). n_shared is emitted
    directly so the d7 column is cross-checked row-by-row."""
    from peskas_timor_data_pipeline_spark.llm.dedup import shingle_rows

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.regexp_replace(F.col("text"), "[^\\x20-\\x7E]", "").alias("text")
    )
    grams = shingle_rows(docs, "doc_id", "text", 32).distinct()
    gram_docs = grams.groupBy("sh").agg(F.count(F.lit(1)).alias("__docs__"))
    # shuffle_hash: gram_docs is a corpus-sized same-key aggregate whose
    # size estimate fooled broadcast election (vanilla-driver OOM at
    # sf0.1, r11) — pin the co-partitioned plan
    shared = grams.join(gram_docs.hint("shuffle_hash"), "sh").filter(
        F.col("__docs__") > 1
    )
    agg = shared.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shared"),
        F.sum(
            F.conv(F.substring(F.md5("sh"), 1, 12), 16, 10).cast("long")
        ).alias("shared_sum"),
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            F.coalesce("shared_sum", F.lit(0)).cast("long").alias("shared_sum"),
        )
    )


D7C_ORACLE = f"""
WITH norm AS ({_D7_NORM}),
grams AS MATERIALIZED (
  SELECT DISTINCT doc_id, substr(t, CAST(i AS INTEGER), 32) AS sh
  FROM (SELECT doc_id, t, unnest(generate_series(1, length(t) - 31)) AS i
        FROM norm WHERE length(t) >= 32)
), gd AS MATERIALIZED (
  SELECT sh, count(*) AS docs FROM grams GROUP BY sh
), agg AS (
  SELECT doc_id, count(*) AS n_shared,
         sum(('0x' || substr(md5(sh), 1, 12))::BIGINT) AS shared_sum
  FROM grams JOIN gd USING (sh) WHERE docs > 1 GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(n_shared, 0) AS BIGINT) AS n_shared,
       CAST(coalesce(shared_sum, 0) AS BIGINT) AS shared_sum
FROM documents d LEFT JOIN agg USING (doc_id)
"""

QUERIES["d7c_shared_checksum"] = (d7c_shared_checksum, D7C_ORACLE)


# --- MM6: image perceptual-hash near-dedup (dHash + banded hamming LSH) ---------------

def mm6_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-level near-dedup, end to end through REAL bytes: synthesize a
    P6 PPM per document (every 10th doc re-renders doc_id-5's image — the
    planted duplicates), dHash the decoded pixels (integer-exact 56-bit
    difference hash, llm/multimodal.py::image_dhash), find near-dup
    partners via banded hamming LSH + bit_count verify
    (llm/dedup.py::hamming_neardup_pairs), and emit the per-image dedup
    decision: partner count and whether the image survives
    keep-smallest-id. The oracle recomputes hash, bands, and verify from
    the generating formula, so a codec, sampling, bit-packing, or banding
    bug breaks the hash."""
    import numpy as np

    from peskas_timor_data_pipeline_spark.llm.dedup import hamming_neardup_pairs
    from peskas_timor_data_pipeline_spark.llm.multimodal import (
        encode_ppm,
        image_dhash,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(did: int) -> bytes:
        base = did - 5 if (did % 10 == 0 and did >= 5) else did
        w, h = base % 13 + 1, base % 7 + 1
        y, x, c = np.indices((h, w, 3))
        return encode_ppm(
            ((base * base + 7 * base * x + 13 * y + c) % 256).astype(np.uint8)
        )

    media = _synth_media(docs, make)
    # materialized (r11): the dhash frame feeds the banded pair join (two
    # self-join sides) AND the final per-doc report — unmaterialized, the
    # whole Python synth+decode+dhash pipeline ran once per consumer
    from peskas_timor_data_pipeline_spark.llm.ckpt import materialize

    hashes = materialize(image_dhash(media, "doc_id", grid=8))
    pairs = hamming_neardup_pairs(
        hashes, "doc_id", "dhash", n_bits=56, n_bands=4, max_hamming=6
    )
    partners = pairs.select(
        F.col("id_a").alias("doc_id"), F.col("id_b").alias("partner")
    ).unionByName(
        pairs.select(F.col("id_b").alias("doc_id"), F.col("id_a").alias("partner"))
    )
    per_doc = partners.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_partners"),
        F.min("partner").alias("__mp__"),
    )
    return (
        hashes.select("doc_id", "dhash")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "dhash",
            F.coalesce("n_partners", F.lit(0)).alias("n_partners"),
            F.when(
                F.col("__mp__").isNull() | (F.col("__mp__") > F.col("doc_id")),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("kept"),
        )
    )


def _mm6_sql() -> str:
    grid, bands, width, maxham = 8, 4, 14, 6
    # channel-sum luminance at nearest-neighbor sample points, from the
    # generating formula (c contributes 0+1+2 with per-channel mod 256)
    ssum = (
        "((base * base + 7 * base * {x} + 13 * {y}) % 256"
        " + (base * base + 7 * base * {x} + 13 * {y} + 1) % 256"
        " + (base * base + 7 * base * {x} + 13 * {y} + 2) % 256)"
    )
    s0 = ssum.format(x="((j.j * w) // 8)", y="((i.i * h) // 8)")
    s1 = ssum.format(x="(((j.j + 1) * w) // 8)", y="((i.i * h) // 8)")
    band_vals = ", ".join(
        f"(dhash >> {b * width}) & {(1 << width) - 1} AS band{b}"
        for b in range(bands)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, dhash, {b} AS band_idx, band{b} AS band_val FROM hashed"
        for b in range(bands)
    )
    return f"""
WITH dims AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0 AND doc_id >= 5 THEN doc_id - 5
              ELSE doc_id END AS base
  FROM documents
), geo AS (
  SELECT doc_id, base, base % 13 + 1 AS w, base % 7 + 1 AS h FROM dims
), bits AS (
  SELECT g.doc_id,
         CASE WHEN {s1} > {s0} THEN CAST(1 AS BIGINT) << (i.i * 7 + j.j)
              ELSE 0 END AS bit
  FROM geo g,
       (SELECT unnest(generate_series(0, {grid - 1})) AS i) i,
       (SELECT unnest(generate_series(0, {grid - 2})) AS j) j
), hashes AS (
  SELECT doc_id, sum(bit) AS dhash FROM bits GROUP BY doc_id
), hashed AS (
  SELECT doc_id, dhash, {band_vals} FROM hashes
), long AS (
  {band_rows}
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.dhash, b.dhash)) AS ham
  FROM long a JOIN long b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.dhash, b.dhash)) <= {maxham}
), partners AS (
  SELECT id_a AS doc_id, id_b AS partner FROM pairs
  UNION ALL
  SELECT id_b AS doc_id, id_a AS partner FROM pairs
), per_doc AS (
  SELECT doc_id, count(*) AS n_partners, min(partner) AS mp
  FROM partners GROUP BY doc_id
)
SELECT h.doc_id, CAST(h.dhash AS BIGINT) AS dhash,
       CAST(coalesce(p.n_partners, 0) AS BIGINT) AS n_partners,
       CASE WHEN p.mp IS NULL OR p.mp > h.doc_id THEN 1 ELSE 0 END AS kept
FROM hashes h LEFT JOIN per_doc p USING (doc_id)
"""


QUERIES["mm6_phash_neardup"] = (mm6_phash_neardup, _mm6_sql())


# --- T17: designed-mixture resampling (domain reweighting) -----------------------------

def t17_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain reweighting (llm/text.py::mixture_sample):
    per-source quotas 3k+2 for srcK — small sources hit their quota, large
    quotas clamp to the source size, and the 'random' draw is the md5
    order both engines replay exactly."""
    from peskas_timor_data_pipeline_spark.llm.text import mixture_sample

    docs = load(spark, sf_dir, "documents")
    targets = {f"src{k}": 3 * k + 2 for k in range(64)}
    return mixture_sample(docs, "doc_id", "source", targets)


T17_ORACLE = """
SELECT doc_id, source, CAST(sample_rank AS INTEGER) AS sample_rank
FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(concat('mix42#', CAST(doc_id AS VARCHAR))), doc_id
         ) AS sample_rank
  FROM documents
)
WHERE sample_rank <= 3 * CAST(substr(source, 4) AS INTEGER) + 2
"""

QUERIES["t17_mixture_sample"] = (t17_mixture_sample, T17_ORACLE)


def t41_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus resampling (llm/text.py::
    weighted_reservoir_sample): 20 docs per source, inclusion probability
    proportional to a per-doc weight (here a deterministic length-bucket
    proxy 1 + length % 7) — Efraimidis-Spirakis A-Res with the u^(1/w)
    reservoir key realized EXACTLY as the max of w seeded 48-bit md5
    draws, so the oracle replays the identical integer arithmetic (no
    libm anywhere in the ranking)."""
    from peskas_timor_data_pipeline_spark.llm.text import (
        weighted_reservoir_sample,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", (F.length("text") % 7 + 1).alias("w")
    )
    out = weighted_reservoir_sample(docs, "doc_id", "source", "w", k=20)
    return out.select(
        "source", "doc_id", F.col("weight").cast("long").alias("weight"),
        F.col("sample_rank").cast("int").alias("sample_rank"),
    ).orderBy("source", "sample_rank")


T41_ORACLE = """
WITH weighted AS (
  SELECT doc_id, source,
         least(CAST(length(text) % 7 + 1 AS BIGINT), 64) AS w
  FROM documents
), draws AS (
  SELECT doc_id, source, w,
         max(('0x' || substr(md5(concat_ws('#', 'wres42',
               CAST(doc_id AS VARCHAR), CAST(j AS VARCHAR))), 1, 12))::BIGINT
         ) AS key
  FROM (SELECT doc_id, source, w, unnest(generate_series(0, w - 1)) AS j
        FROM weighted WHERE w > 0)
  GROUP BY doc_id, source, w
), ranked AS (
  SELECT source, doc_id, w AS weight,
         row_number() OVER (PARTITION BY source ORDER BY key DESC, doc_id) AS rk
  FROM draws
)
SELECT source, doc_id, CAST(weight AS BIGINT) AS weight,
       CAST(rk AS INTEGER) AS sample_rank
FROM ranked WHERE rk <= 20
ORDER BY source, sample_rank
"""

QUERIES["t41_weighted_reservoir"] = (t41_weighted_reservoir, T41_ORACLE)


def d18_bbit_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minhash Jaccard estimation over the LSH candidate pairs
    (llm/dedup.py::bbit_minhash_jaccard, Li & Koenig 2010): signatures
    compressed 16x (lowest 2 bits of each of 16 minhashes) still rank the
    planted near-dups, with the collision-floor correction in exact
    signed integer ppm. Emits the full-width estimate alongside so the
    compression's calibration is itself hash-checked."""
    from peskas_timor_data_pipeline_spark.llm.ckpt import materialize
    from peskas_timor_data_pipeline_spark.llm.dedup import (
        bbit_minhash_jaccard,
        lsh_candidate_pairs,
        minhash_signature,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # the signature frame feeds the banding AND both estimator joins —
    # materialize once or the shingle+md5 chain runs three times
    sigs = materialize(minhash_signature(docs, "doc_id", "text", N_HASHES, K_SHINGLE))
    pairs = lsh_candidate_pairs(sigs, "doc_id", N_HASHES, BAND_SIZE)
    return bbit_minhash_jaccard(sigs, pairs, "doc_id", N_HASHES, b=2).orderBy(
        "id_a", "id_b"
    )


_D18_AGREE_FULL = " + ".join(
    f"CASE WHEN a.h{j} = b.h{j} THEN 1 ELSE 0 END" for j in range(N_HASHES)
)
_D18_AGREE_BBIT = " + ".join(
    f"CASE WHEN ('0x' || a.h{j})::BIGINT % 4 = ('0x' || b.h{j})::BIGINT % 4 "
    "THEN 1 ELSE 0 END" for j in range(N_HASHES)
)

D18_ORACLE = f"""
WITH {_SHINGLE_CTE},
sig AS MATERIALIZED (SELECT doc_id, {_SIG_COLS} FROM shd GROUP BY doc_id),
long AS (SELECT doc_id, unnest([{_BAND_LIST}]) AS band_key FROM sig),
pairs AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM long a JOIN long b USING (band_key)
  WHERE a.doc_id < b.doc_id
)
SELECT p.id_a, p.id_b,
       CAST({{af}} AS BIGINT) AS n_agree_full,
       CAST({{ab}} AS BIGINT) AS n_agree_bbit,
       CAST(floor(({{af}}) * 1000000.0 / {N_HASHES}) AS BIGINT) AS est_full_ppm,
       CAST(floor((({{ab}}) * 4 - {N_HASHES}) * 1000000.0
                  / ({N_HASHES} * 3)) AS BIGINT) AS est_bbit_ppm
FROM pairs p
JOIN sig a ON a.doc_id = p.id_a
JOIN sig b ON b.doc_id = p.id_b
ORDER BY p.id_a, p.id_b
""".format(af=_D18_AGREE_FULL, ab=_D18_AGREE_BBIT)

QUERIES["d18_bbit_minhash"] = (d18_bbit_minhash, D18_ORACLE)


def d19_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (llm/cluster.py::
    cluster_safe_split): the 90/5/5 draw is per near-dup COMPONENT, so
    near-duplicates never straddle the train/eval boundary. The output
    hash-checks per-split doc and component counts AND the global
    straddle count — the zero in ``n_straddling_components`` is the
    leakage-safety property itself, value-checked end to end through the
    LSH pair graph and the connected-components step."""
    from peskas_timor_data_pipeline_spark.llm.cluster import (
        cluster_safe_split,
        connected_components,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = minhash_signature(docs, "doc_id", "text", N_HASHES, K_SHINGLE)
    pairs = lsh_candidate_pairs(sigs, "doc_id", N_HASHES, BAND_SIZE)
    comp = connected_components(pairs)
    split = cluster_safe_split(docs, "doc_id", comp)
    straddle = (
        split.groupBy("canonical_id")
        .agg(F.countDistinct("split").alias("__ns__"))
        .agg(
            F.sum(F.when(F.col("__ns__") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_straddling_components")
        )
    )
    return (
        split.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("canonical_id").alias("n_components"),
        )
        .crossJoin(F.broadcast(straddle))
        .orderBy("split")
    )


D19_ORACLE = f"""
WITH RECURSIVE {_SHINGLE_CTE},
sig AS (SELECT doc_id, {_SIG_COLS} FROM shd GROUP BY doc_id),
long AS (SELECT doc_id, unnest([{_BAND_LIST}]) AS band_key FROM sig),
p AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM long a JOIN long b USING (band_key)
  WHERE a.doc_id < b.doc_id
),
edges AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
reach AS (
  SELECT s AS node, d AS other FROM edges
  UNION
  SELECT r.node, e.d FROM reach r JOIN edges e ON r.other = e.s WHERE e.d <> r.node
),
comp AS (
  SELECT node, least(node, min(other)) AS component FROM reach GROUP BY node
),
assigned AS (
  SELECT d.doc_id,
         coalesce(c.component, d.doc_id) AS canonical_id
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
),
split AS (
  SELECT doc_id, canonical_id,
         CASE WHEN b < 90 THEN 'train'
              WHEN b < 95 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT *,
               ('0x' || substr(md5(concat_ws('#', 'split42',
                   CAST(canonical_id AS VARCHAR))), 1, 12))::BIGINT % 100 AS b
        FROM assigned)
),
straddle AS (
  SELECT CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_straddling_components
  FROM (SELECT canonical_id, count(DISTINCT split) AS ns
        FROM split GROUP BY canonical_id)
)
SELECT s.split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT canonical_id) AS BIGINT) AS n_components,
       st.n_straddling_components
FROM split s CROSS JOIN straddle st
GROUP BY s.split, st.n_straddling_components
ORDER BY s.split
"""

QUERIES["d19_cluster_safe_split"] = (d19_cluster_safe_split, D19_ORACLE)


# --- T18: interpolated bigram log-probability (perplexity-filter proxy) ---------------

def t18_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean interpolated bigram logprob under the corpus's own
    counts (llm/text.py::bigram_logprob) — the order-aware upgrade of the
    t15 unigram filter: word salad built from common words scores low
    here."""
    from peskas_timor_data_pipeline_spark.llm.text import bigram_logprob

    docs = load(spark, sf_dir, "documents")
    return bigram_logprob(docs, "doc_id", "text", lambda_interp=0.75)


T18_ORACLE = """
WITH prepped AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '[^a-z0-9]+') AS arr
  FROM documents
), positions AS (
  SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS pos FROM prepped
), toks AS (
  SELECT doc_id, pos, arr[pos] AS token FROM positions WHERE arr[pos] <> ''
), bg AS (
  SELECT doc_id, token,
         lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM toks
), uni AS (
  SELECT token, count(*) AS c_w FROM toks GROUP BY token
), total AS (SELECT count(*) AS t_total FROM toks),
bi AS (
  SELECT prev, token, count(*) AS c_bg FROM bg WHERE prev IS NOT NULL
  GROUP BY prev, token
)
SELECT b.doc_id,
       count(*) AS n_bigrams,
       round(avg(ln(
         0.75 * bi.c_bg / pc.c_w + 0.25 * u.c_w / t.t_total
       )), 6) AS mean_logp
FROM bg b
JOIN bi ON b.prev = bi.prev AND b.token = bi.token
JOIN uni pc ON pc.token = b.prev
JOIN uni u ON u.token = b.token
CROSS JOIN total t
WHERE b.prev IS NOT NULL
GROUP BY b.doc_id
"""

QUERIES["t18_bigram_logprob"] = (t18_bigram_logprob, T18_ORACLE)


# --- D8: cross-source exact-duplication matrix ----------------------------------------

def d8_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-source duplication diagnostic (llm/dedup.py::
    cross_source_overlap): shared distinct content fingerprints and the
    overlap coefficient for every source pair, pair-complete. Fingerprint
    = first-5-token prefix (the shared-template detector; full-text md5
    catches only byte-exact duplication, which is zero across these
    sources)."""
    from peskas_timor_data_pipeline_spark.llm.dedup import cross_source_overlap

    docs = load(spark, sf_dir, "documents")
    return cross_source_overlap(docs, "doc_id", "text", "source", prefix_tokens=5)


D8_ORACLE = """
WITH hs AS (
  SELECT DISTINCT
         md5(array_to_string(
           regexp_split_to_array(lower(text), '[^a-z0-9]+')[1:5], ' ')) AS h,
         source
  FROM documents
), sizes AS (
  SELECT source, count(*) AS n FROM hs GROUP BY source
), shared AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
  FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT sa.source AS source_a, sb.source AS source_b,
       CAST(coalesce(sh.n_shared, 0) AS BIGINT) AS n_shared,
       sa.n AS n_a, sb.n AS n_b,
       round(coalesce(sh.n_shared, 0) / CAST(least(sa.n, sb.n) AS DOUBLE), 6)
         AS overlap_coeff
FROM sizes sa
JOIN sizes sb ON sa.source < sb.source
LEFT JOIN shared sh ON sh.source_a = sa.source AND sh.source_b = sb.source
"""

QUERIES["d8_cross_source_overlap"] = (d8_cross_source_overlap, D8_ORACLE)


# --- E9: centroid-based silhouette (clustering QA) -------------------------------------

def e9_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean centroid silhouette over the embeddings table
    (llm/similarity.py::silhouette_by_centroid): one broadcast-centroid
    scoring pass, conditional-min reduce, per-label mean."""
    from peskas_timor_data_pipeline_spark.llm.similarity import (
        silhouette_by_centroid,
    )

    emb = load(spark, sf_dir, "embeddings")
    return silhouette_by_centroid(emb, "vec_id", "embedding", "label", dim=DIM)


def _e9_sql() -> str:
    return f"""
WITH long AS (
  SELECT label, g.i AS i, round(avg(embedding[g.i]), 6) AS m
  FROM embeddings, (SELECT unnest(generate_series(1, {DIM})) AS i) g
  GROUP BY label, g.i
), cents AS (
  SELECT label AS clabel, list(m ORDER BY i) AS centroid
  FROM long GROUP BY label
), dists AS (
  SELECT e.vec_id, e.label AS vlabel, c.clabel,
         1.0 - ({_dot_sql('embedding', 'centroid')})
             / (sqrt({_dot_sql('embedding', 'embedding')})
                * sqrt({_dot_sql('centroid', 'centroid')})) AS dist
  FROM embeddings e CROSS JOIN cents c
), ab AS (
  SELECT vec_id, vlabel,
         min(CASE WHEN vlabel = clabel THEN dist END) AS a,
         min(CASE WHEN vlabel <> clabel THEN dist END) AS b
  FROM dists GROUP BY vec_id, vlabel
)
SELECT vlabel AS label, round(avg((b - a) / greatest(a, b)), 6) AS mean_silhouette,
       count(*) AS n
FROM ab GROUP BY vlabel
"""


QUERIES["e9_silhouette"] = (e9_silhouette, _e9_sql())


# --- D9: corpus-level exact segment dedup (the writer) ----------------------------------

def d9_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup at fixed 10-word-segment granularity: only the
    globally first occurrence of each segment survives; documents are
    reassembled from their surviving segments. Hash of the rebuilt text is
    compared so a segmentation, ordering, or survivor-choice bug breaks the
    oracle match."""
    from peskas_timor_data_pipeline_spark.llm.dedup import segment_dedup

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    out = segment_dedup(docs, "doc_id", "text", seg_words=10)
    return out.select(
        "doc_id",
        "n_segs",
        "n_kept",
        "kept_ratio",
        F.md5("rebuilt").alias("rebuilt_hash"),
    )


D9_ORACLE = """
WITH arr AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM documents
), words AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS i, ws[u.i] AS word
  FROM arr, unnest(generate_series(1, len(ws))) AS u(i)
), segs AS MATERIALIZED (
  SELECT doc_id, CAST((i - 1) // 10 AS INTEGER) AS pos,
         string_agg(word, ' ' ORDER BY i) AS seg
  FROM words GROUP BY doc_id, (i - 1) // 10
), marked AS MATERIALIZED (
  SELECT doc_id, pos, seg,
         row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
  FROM segs
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_segs,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS kept_ratio,
       md5(coalesce(string_agg(seg, ' ' ORDER BY pos) FILTER (rn = 1), ''))
           AS rebuilt_hash
FROM marked GROUP BY doc_id
"""

QUERIES["d9_segment_dedup"] = (d9_segment_dedup, D9_ORACLE)


# --- T19: CCNet-style per-source quality tiers ------------------------------------------

def t19_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head/middle/tail tiers per source by integer common-token mass (the
    CCNet bucket step with an engine-exact score). Aggregated per
    (source, bucket) so the hash pins every document's tier assignment
    through the counts and the integer score sums."""
    from peskas_timor_data_pipeline_spark.llm.text import quality_buckets

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    out = quality_buckets(docs, "doc_id", "text", "source")
    return out.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("score").alias("sum_score"),
        F.min("score").alias("min_score"),
        F.max("score").alias("max_score"),
    )


T19_ORACLE = """
WITH toks AS (
  SELECT doc_id, source,
         unnest(string_split_regex(lower(text), '\\s+')) AS tok
  FROM documents
), nonempty AS (
  SELECT doc_id, source, tok FROM toks WHERE tok <> ''
), freq AS (
  SELECT tok, count(*) AS f FROM nonempty GROUP BY tok
), scored AS (
  SELECT n.doc_id, n.source, CAST(sum(f.f) AS BIGINT) AS score
  FROM nonempty n JOIN freq f USING (tok)
  GROUP BY n.doc_id, n.source
), base AS (
  SELECT d.doc_id, d.source, coalesce(s.score, 0) AS score
  FROM documents d LEFT JOIN scored s
    ON d.doc_id = s.doc_id AND d.source = s.source
), ranked AS (
  SELECT doc_id, source, score,
         row_number() OVER (PARTITION BY source
                            ORDER BY score DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM base
), tiers AS (
  SELECT source, score,
         CASE WHEN rn <= 0.3 * n THEN 'head'
              WHEN rn <= 0.7 * n THEN 'middle'
              ELSE 'tail' END AS bucket
  FROM ranked
)
SELECT source, bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(score) AS BIGINT) AS sum_score,
       CAST(min(score) AS BIGINT) AS min_score,
       CAST(max(score) AS BIGINT) AS max_score
FROM tiers GROUP BY source, bucket
"""

QUERIES["t19_quality_buckets"] = (t19_quality_buckets, T19_ORACLE)


# --- E10: ANN recall@k evaluation (IVF vs exact) ----------------------------------------

def e10_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF index (16 cells, 4 probes) against exact
    brute-force cosine — the eval loop run after every index-parameter
    change. Exercises both search paths end-to-end plus the recall join."""
    from peskas_timor_data_pipeline_spark.llm.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
        topk_recall,
    )

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    candidates = emb.filter(F.col("vec_id") >= 20)
    exact = cosine_topk_bruteforce(
        queries, candidates, "vec_id", "embedding", k=5, dim=DIM
    )
    approx = cosine_topk_ivf(
        queries, candidates, "vec_id", "embedding",
        k=5, dim=DIM, n_cells=16, n_probe=4,
    )
    return topk_recall(exact, approx)


E10_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings WHERE vec_id >= 20),
exact_scored AS (
  SELECT query_id, cand_id,
         ({_dot_sql('qv', 'cv')})
         / (sqrt({_dot_sql('qv', 'qv')}) * sqrt({_dot_sql('cv', 'cv')})) AS cosine
  FROM q CROSS JOIN c
),
exact_ranked AS (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
  FROM exact_scored
),
exact_k AS (SELECT query_id, cand_id FROM exact_ranked WHERE rank <= 5),
cents AS (
  SELECT vec_id AS cell_id, embedding AS cvec
  FROM embeddings WHERE vec_id >= 20
  ORDER BY md5('cent#' || CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
),
assign AS (
  SELECT cand_id, cell_id, cv,
         row_number() OVER (
           PARTITION BY cand_id
           ORDER BY ({_dot_sql('cv', 'cvec')})
                    / (sqrt({_dot_sql('cv', 'cv')}) * sqrt({_dot_sql('cvec', 'cvec')})) DESC,
                    cell_id
         ) AS rn
  FROM c CROSS JOIN cents
),
inv AS (SELECT cell_id, cand_id, cv FROM assign WHERE rn = 1),
probe AS (
  SELECT query_id, qv, cell_id,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY ({_dot_sql('qv', 'cvec')})
                    / (sqrt({_dot_sql('qv', 'qv')}) * sqrt({_dot_sql('cvec', 'cvec')})) DESC,
                    cell_id
         ) AS rn
  FROM q CROSS JOIN cents
),
probes AS (SELECT query_id, qv, cell_id FROM probe WHERE rn <= 4),
approx_scored AS (
  SELECT query_id, cand_id,
         ({_dot_sql('qv', 'cv')})
         / (sqrt({_dot_sql('qv', 'qv')}) * sqrt({_dot_sql('cv', 'cv')})) AS cosine
  FROM probes JOIN inv USING (cell_id)
),
approx_ranked AS (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
  FROM approx_scored
),
approx_k AS (SELECT query_id, cand_id, 1 AS hit FROM approx_ranked WHERE rank <= 5)
SELECT e.query_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(sum(coalesce(a.hit, 0)) AS BIGINT) AS n_hits,
       round(sum(coalesce(a.hit, 0)) / CAST(count(*) AS DOUBLE), 6) AS recall
FROM exact_k e LEFT JOIN approx_k a USING (query_id, cand_id)
GROUP BY e.query_id
"""

QUERIES["e10_ann_recall"] = (e10_ann_recall, E10_ORACLE)


# --- E11: SemDeDup (centroid-blocked semantic dedup) ------------------------------------

def e11_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup with cluster blocking: assign to 16 seeded centroids,
    compare cosine within cells only, mark vectors with a higher-similarity
    smaller-id cell-mate as duplicates. Hash pins every assignment AND
    every keep/drop decision."""
    from peskas_timor_data_pipeline_spark.llm.similarity import (
        centroid_blocked_near_dup,
    )

    emb = load(spark, sf_dir, "embeddings")
    return centroid_blocked_near_dup(
        emb, "vec_id", "embedding", threshold=0.9, dim=DIM, n_cells=16
    )


E11_ORACLE = f"""
WITH cents AS (
  SELECT vec_id AS cell_id, embedding AS cvec
  FROM embeddings
  ORDER BY md5('cent#' || CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
),
v AS (SELECT vec_id, embedding AS v FROM embeddings),
assign AS (
  SELECT vec_id, cell_id, v,
         row_number() OVER (
           PARTITION BY vec_id
           ORDER BY ({_dot_sql('v', 'cvec')})
                    / (sqrt({_dot_sql('v', 'v')}) * sqrt({_dot_sql('cvec', 'cvec')})) DESC,
                    cell_id
         ) AS rn
  FROM v CROSS JOIN cents
),
cells AS (SELECT vec_id, cell_id, v FROM assign WHERE rn = 1),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM cells a JOIN cells b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  WHERE ({_dot_sql('a.v', 'b.v')})
        / (sqrt({_dot_sql('a.v', 'a.v')}) * sqrt({_dot_sql('b.v', 'b.v')})) >= 0.9
)
SELECT c.vec_id, c.cell_id, coalesce(d.vec_id IS NOT NULL, FALSE) AS is_dup
FROM cells c LEFT JOIN dups d ON c.vec_id = d.vec_id
"""

QUERIES["e11_semdedup"] = (e11_semdedup, E11_ORACLE)


# --- MM7: silence-run detection over decoded PCM ----------------------------------------

def mm7_silence_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the mm4 WAVs (n = (doc_id%50+1)*80 samples, sample[i] =
    ((doc_id+i)%256-128)*100), decode the actual bytes, and report silence
    runs under |amplitude| < 1000 raw (1000/32768 normalized — dyadic, so
    the comparison is engine-exact). The oracle replays runs from the
    generating formula with gaps-and-islands SQL, so a decode, threshold,
    or run-boundary bug breaks the hash."""
    from peskas_timor_data_pipeline_spark.llm.multimodal import audio_silence_stats

    docs = load(spark, sf_dir, "documents").select("doc_id")

    media = _synth_media(docs, _mm_wav)
    return audio_silence_stats(
        media, "doc_id", threshold=1000 / 32768, min_run=5
    )


MM7_ORACLE = """
WITH dims AS (
  SELECT doc_id, (doc_id % 50 + 1) * 80 AS n FROM documents
), flat AS (
  SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM dims
), sil AS (
  SELECT doc_id, i FROM flat
  WHERE abs(((doc_id + i) % 256 - 128) * 100) < 1000
), islands AS (
  SELECT doc_id, i,
         i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
  FROM sil
), runs AS (
  SELECT doc_id, grp, count(*) AS len, min(i) AS start_i, max(i) AS end_i
  FROM islands GROUP BY doc_id, grp
)
SELECT d.doc_id,
       CAST(d.n AS BIGINT) AS n_samples,
       CAST(coalesce(sum(r.len), 0) AS BIGINT) AS n_silent,
       CAST(coalesce(sum(CASE WHEN r.len >= 5 THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_runs,
       CAST(coalesce(max(r.len), 0) AS BIGINT) AS longest_run,
       CAST(coalesce(max(CASE WHEN r.start_i = 0 THEN r.len END), 0) AS BIGINT)
           AS lead_trim,
       CAST(coalesce(max(CASE WHEN r.end_i = d.n - 1 THEN r.len END), 0) AS BIGINT)
           AS trail_trim
FROM dims d LEFT JOIN runs r ON d.doc_id = r.doc_id
GROUP BY d.doc_id, d.n
"""

QUERIES["mm7_silence_runs"] = (mm7_silence_runs, MM7_ORACLE)


# --- E12: MMR diversified top-k ---------------------------------------------------------

def e12_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR re-ranking: relevance top-10 pool per query, then 3 greedy picks
    maximizing 0.7*rel - 0.3*max-sim-to-selected. The oracle unrolls the
    greedy loop into one CTE chain per pick, so a pool, penalty, or
    tie-break divergence breaks the hash. The hashed columns are the pick
    SELECTION and order (full-precision comparisons, measure-zero ties) —
    not the mmr score itself, whose pick-1 value ``0.7 * rel`` is a
    finite-decimal product that lands exactly on 6-dp rounding half-way
    boundaries where Spark (shortest-repr HALF_UP) and DuckDB (binary
    value) legitimately disagree."""
    from peskas_timor_data_pipeline_spark.llm.similarity import mmr_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    candidates = emb.filter(F.col("vec_id") >= 10)
    picks = mmr_topk(
        queries, candidates, "vec_id", "embedding",
        k=3, pool=10, lam=0.7, dim=DIM,
    )
    return picks.select("query_id", "cand_id", "pick_order")


def _e12_sql() -> str:
    # Python computes the diversity weight as 1.0 - 0.7 =
    # 0.30000000000000004; the SQL literal must be THAT double, not 0.3,
    # or ranking near-ties flip between engines.
    lam, one_minus_lam = repr(0.7), repr(1.0 - 0.7)
    head = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings WHERE vec_id >= 10),
scored AS (
  SELECT query_id, cand_id,
         ({_dot_sql('qv', 'cv')})
         / (sqrt({_dot_sql('qv', 'qv')}) * sqrt({_dot_sql('cv', 'cv')})) AS cosine
  FROM q CROSS JOIN c
),
pool AS MATERIALIZED (
  SELECT query_id, cand_id, round(cosine, 6) AS rel FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rn
    FROM scored
  ) WHERE rn <= 10
),
pv AS MATERIALIZED (
  SELECT p.query_id, p.cand_id, p.rel, c.cv
  FROM pool p JOIN c ON p.cand_id = c.cand_id
),
sim AS MATERIALIZED (
  SELECT a.query_id, a.cand_id AS id_a, b.cand_id AS id_b,
         ({_dot_sql('a.cv', 'b.cv')})
         / (sqrt({_dot_sql('a.cv', 'a.cv')}) * sqrt({_dot_sql('b.cv', 'b.cv')})) AS sim
  FROM pv a JOIN pv b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
),
p1 AS (
  SELECT query_id, cand_id, rel, rel * {lam} AS mmr,
         row_number() OVER (PARTITION BY query_id ORDER BY rel * {lam} DESC, cand_id) AS rn
  FROM pool
),
sel1 AS MATERIALIZED (SELECT query_id, cand_id, mmr FROM p1 WHERE rn = 1),
rem1 AS MATERIALIZED (
  SELECT p.query_id, p.cand_id, p.rel FROM pool p
  JOIN sel1 s ON p.query_id = s.query_id WHERE p.cand_id <> s.cand_id
)"""
    steps = []
    for step in (2, 3):
        prev_sel = "sel1" if step == 2 else "sel12"
        prev_rem = f"rem{step - 1}"
        union = (
            ""
            if step == 2
            else ",\nsel12 AS MATERIALIZED (SELECT query_id, cand_id FROM sel1 "
            "UNION ALL SELECT query_id, cand_id FROM sel2)"
        )
        steps.append(f"""{union},
ms{step} AS (
  SELECT r.query_id, r.cand_id, r.rel, max(coalesce(s.sim, -1.0)) AS ms
  FROM {prev_rem} r
  JOIN {prev_sel} e ON r.query_id = e.query_id
  LEFT JOIN sim s ON s.query_id = r.query_id AND s.id_a = r.cand_id
                 AND s.id_b = e.cand_id
  GROUP BY r.query_id, r.cand_id, r.rel
),
p{step} AS (
  SELECT query_id, cand_id, rel * {lam} - ms * {one_minus_lam} AS mmr,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rel * {lam} - ms * {one_minus_lam} DESC,
                                     cand_id) AS rn
  FROM ms{step}
),
sel{step} AS MATERIALIZED (SELECT query_id, cand_id, mmr FROM p{step} WHERE rn = 1),
rem{step} AS MATERIALIZED (
  SELECT r.query_id, r.cand_id, r.rel FROM {prev_rem} r
  JOIN sel{step} s ON r.query_id = s.query_id WHERE r.cand_id <> s.cand_id
)""")
    tail = """
SELECT query_id, cand_id, 1 AS pick_order FROM sel1
UNION ALL
SELECT query_id, cand_id, 2 AS pick_order FROM sel2
UNION ALL
SELECT query_id, cand_id, 3 AS pick_order FROM sel3
"""
    return head + "".join(steps) + tail


QUERIES["e12_mmr_topk"] = (e12_mmr_topk, _e12_sql())


# --- T20: text normalization (NFKC-lite) ------------------------------------------------

def t20_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrap every document in deterministic dirt — leading tab+spaces,
    curly-quoted doc-id suffix, a C0 control, trailing NBSP — then
    normalize and hash. The dirt means the fold/strip/collapse rules all
    fire on every row, so any divergence from the oracle's replay breaks
    the hash (clean fixture text alone would reduce this to an identity
    test)."""
    from peskas_timor_data_pipeline_spark.llm.text import normalize_text

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    dirty = docs.withColumn(
        "text",
        F.concat(
            F.lit("\t  "),
            F.col("text"),
            F.lit(" “ID"),
            F.col("doc_id").cast("string"),
            F.lit("”"),
            F.expr("char(1)"),
            F.lit("END  "),
        ),
    )
    out = normalize_text(dirty, "text")
    return out.select(
        "doc_id",
        F.length("text").alias("n_before"),
        F.length("norm_text").alias("n_after"),
        F.md5("norm_text").alias("norm_hash"),
    )


T20_ORACLE = """
WITH dirty AS (
  SELECT doc_id,
         chr(9) || '  ' || text || ' “ID' || CAST(doc_id AS VARCHAR) || '”'
           || chr(1) || 'END' || chr(160) || ' ' AS text
  FROM documents
), folded AS (
  SELECT doc_id, text,
         replace(replace(replace(replace(replace(replace(replace(
           lower(text),
           '“', '"'), '”', '"'), '‘', ''''), '’', ''''),
           '–', '-'), '—', '-'), chr(160), ' ') AS f
  FROM dirty
), norm AS (
  SELECT doc_id, text,
         trim(regexp_replace(
           regexp_replace(f, '[\\x00-\\x1f\\x7f]', ' ', 'g'),
           '\\s+', ' ', 'g')) AS n
  FROM folded
)
SELECT doc_id,
       CAST(length(text) AS INTEGER) AS n_before,
       CAST(length(n) AS INTEGER) AS n_after,
       md5(n) AS norm_hash
FROM norm
"""

QUERIES["t20_normalize"] = (t20_normalize, T20_ORACLE)


# --- T21: BPE merge training ------------------------------------------------------------

def t21_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 3 BPE merges on the document tokens (frequency-weighted
    corpus-wide pair counts, deterministic tie-breaks). The oracle unrolls
    all three count→pick→fuse iterations, so a pair-counting, weighting,
    tie-break, or fuse bug at ANY step breaks the hash."""
    from peskas_timor_data_pipeline_spark.llm.text import bpe_train_merges

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    return bpe_train_merges(toks, "tok", n_merges=3)


def _t21_sql() -> str:
    head = """
WITH toks AS (
  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM documents
), vocab AS (
  SELECT tok, count(*) AS w FROM toks WHERE tok <> '' GROUP BY tok
), v0 AS MATERIALIZED (
  SELECT w, trim(regexp_replace(tok, '(.)', '\\1 ', 'g')) AS sym FROM vocab
)"""
    steps = []
    for s in (1, 2, 3):
        prev = f"v{s - 1}"
        steps.append(f""",
p{s} AS (
  SELECT pr.pair, CAST(sum(pr.w) AS BIGINT) AS c FROM (
    SELECT a.w, a.arr[u.i] || ' ' || a.arr[u.i + 1] AS pair
    FROM (SELECT w, string_split(sym, ' ') AS arr FROM {prev}) a,
         unnest(generate_series(1, len(a.arr) - 1)) AS u(i)
  ) pr GROUP BY pr.pair
),
t{s} AS MATERIALIZED (SELECT pair, c FROM p{s} ORDER BY c DESC, pair LIMIT 1),
v{s} AS MATERIALIZED (
  SELECT w,
         trim(replace(' ' || sym || ' ',
                      ' ' || (SELECT pair FROM t{s}) || ' ',
                      ' ' || replace((SELECT pair FROM t{s}), ' ', '') || ' '))
           AS sym
  FROM {prev}
)""")
    tail = """
SELECT 1 AS step, pair, replace(pair, ' ', '') AS merged, c AS pair_count FROM t1
UNION ALL
SELECT 2 AS step, pair, replace(pair, ' ', '') AS merged, c AS pair_count FROM t2
UNION ALL
SELECT 3 AS step, pair, replace(pair, ' ', '') AS merged, c AS pair_count FROM t3
"""
    return head + "".join(steps) + tail


QUERIES["t21_bpe_merges"] = (t21_bpe_merges, _t21_sql())


# --- E13: int8-quantized top-k (the quantized serving path) -----------------------------

def e13_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized ANN end-to-end: corpus calibration, both sides quantized
    into the same int8 grid, ranking by exact INTEGER dot product — the
    one similarity path with zero float-divergence surface."""
    from peskas_timor_data_pipeline_spark.llm.similarity import int8_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    candidates = emb.filter(F.col("vec_id") >= 10)
    return int8_topk(queries, candidates, "vec_id", "embedding", k=3, dim=DIM)


def _e13_sql() -> str:
    cal = ", ".join(
        f"min(embedding[{i}]) AS lo{i}, max(embedding[{i}]) AS hi{i}"
        for i in range(1, DIM + 1)
    )
    def qexpr(i: int) -> str:
        return (
            f"CASE WHEN CAST(hi{i} AS DOUBLE) - CAST(lo{i} AS DOUBLE) > 0 "
            f"THEN CAST(round((CAST(embedding[{i}] AS DOUBLE) - CAST(lo{i} AS DOUBLE))"
            f" / (CAST(hi{i} AS DOUBLE) - CAST(lo{i} AS DOUBLE)) * 255) AS BIGINT) - 128 "
            f"ELSE 0 END"
        )
    qv = ", ".join(qexpr(i) for i in range(1, DIM + 1))
    dot = " + ".join(f"q.qq[{i}] * c.cq[{i}]" for i in range(1, DIM + 1))
    return f"""
WITH cal AS (SELECT {cal} FROM embeddings WHERE vec_id >= 10),
qq AS (
  SELECT vec_id AS query_id, [{qv}] AS qq
  FROM embeddings, cal WHERE vec_id < 10
),
cq AS (
  SELECT vec_id AS cand_id, [{qv}] AS cq
  FROM embeddings, cal WHERE vec_id >= 10
),
scored AS (
  SELECT q.query_id, c.cand_id, CAST({dot} AS BIGINT) AS score
  FROM qq q CROSS JOIN cq c
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, cand_id) AS rank
  FROM scored
)
SELECT query_id, cand_id, CAST(rank AS INTEGER) AS rank, score
FROM ranked WHERE rank <= 3
"""


QUERIES["e13_int8_topk"] = (e13_int8_topk, _e13_sql())


# --- E14: reciprocal-rank fusion across index variants ----------------------------------

def e14_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble retrieval: fuse the exact-cosine, hyperplane-LSH, and
    int8-quantized top-10 lists with reciprocal-rank fusion (k=60) and
    keep the fused top-3 — the calibration-free way to combine index
    variants. The oracle rebuilds all three rankings and the fusion."""
    from peskas_timor_data_pipeline_spark.llm.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_lsh,
        int8_topk,
        rrf_fuse,
    )

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    candidates = emb.filter(F.col("vec_id") >= 10)
    exact = cosine_topk_bruteforce(queries, candidates, "vec_id", "embedding",
                                   k=10, dim=DIM)
    lsh = cosine_topk_lsh(queries, candidates, "vec_id", "embedding",
                          k=10, dim=DIM, n_bits=8)
    i8 = int8_topk(queries, candidates, "vec_id", "embedding", k=10, dim=DIM)
    return rrf_fuse([exact, lsh, i8], k_const=60, topk=3)


def _e14_sql() -> str:
    cal = ", ".join(
        f"min(embedding[{i}]) AS lo{i}, max(embedding[{i}]) AS hi{i}"
        for i in range(1, DIM + 1)
    )
    def qexpr(i: int) -> str:
        return (
            f"CASE WHEN CAST(hi{i} AS DOUBLE) - CAST(lo{i} AS DOUBLE) > 0 "
            f"THEN CAST(round((CAST(embedding[{i}] AS DOUBLE) - CAST(lo{i} AS DOUBLE))"
            f" / (CAST(hi{i} AS DOUBLE) - CAST(lo{i} AS DOUBLE)) * 255) AS BIGINT) - 128 "
            f"ELSE 0 END"
        )
    qv = ", ".join(qexpr(i) for i in range(1, DIM + 1))
    idot = " + ".join(f"q.qq[{i}] * c.cq[{i}]" for i in range(1, DIM + 1))
    bucket = "concat(" + ", ".join(
        f"CASE WHEN embedding[{i}] >= 0 THEN '1' ELSE '0' END" for i in range(1, 9)
    ) + ")"
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv, {bucket} AS bucket
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS cand_id, embedding AS cv, {bucket} AS bucket
      FROM embeddings WHERE vec_id >= 10),
exact_r AS (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id ORDER BY
           ({_dot_sql('qv', 'cv')})
           / (sqrt({_dot_sql('qv', 'qv')}) * sqrt({_dot_sql('cv', 'cv')})) DESC,
           cand_id) AS rank
  FROM q CROSS JOIN c
),
lsh_r AS (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id ORDER BY
           ({_dot_sql('qv', 'cv')})
           / (sqrt({_dot_sql('qv', 'qv')}) * sqrt({_dot_sql('cv', 'cv')})) DESC,
           cand_id) AS rank
  FROM q JOIN c USING (bucket)
),
cal AS (SELECT {cal} FROM embeddings WHERE vec_id >= 10),
qq AS (SELECT vec_id AS query_id, [{qv}] AS qq
       FROM embeddings, cal WHERE vec_id < 10),
cq AS (SELECT vec_id AS cand_id, [{qv}] AS cq
       FROM embeddings, cal WHERE vec_id >= 10),
i8_r AS (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY CAST({idot} AS BIGINT) DESC, cand_id) AS rank
  FROM qq q CROSS JOIN cq c
),
contrib AS (
  SELECT query_id, cand_id, 1.0 / (60.0 + rank) AS cc FROM exact_r WHERE rank <= 10
  UNION ALL
  SELECT query_id, cand_id, 1.0 / (60.0 + rank) AS cc FROM lsh_r WHERE rank <= 10
  UNION ALL
  SELECT query_id, cand_id, 1.0 / (60.0 + rank) AS cc FROM i8_r WHERE rank <= 10
),
fused AS (
  SELECT query_id, cand_id, sum(cc) AS s
  FROM contrib GROUP BY query_id, cand_id
),
ranked AS (
  SELECT query_id, cand_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, cand_id)
           AS fused_rank
  FROM fused
)
SELECT query_id, cand_id, CAST(fused_rank AS INTEGER) AS fused_rank,
       round(s, 9) AS rrf_score
FROM ranked WHERE fused_rank <= 3
"""


QUERIES["e14_rrf_fusion"] = (e14_rrf_fusion, _e14_sql())


# --- E15: hard-negative mining ----------------------------------------------------------

def e15_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per anchor (vec_id < 15): the 4 most-cosine-similar vectors with a
    DIFFERENT label — the contrastive-pairs builder. Label predicate and
    self-exclusion are part of the pinned semantics. method='exact' is the
    deliberate truth variant (fixture-scale audit twin of e15b's shipped
    IVF path, same role as e1 vs e3)."""
    from peskas_timor_data_pipeline_spark.llm.similarity import hard_negatives

    emb = load(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 15)
    return hard_negatives(
        emb, "vec_id", "embedding", "label", k=4, dim=DIM, anchors=anchors,
        method="exact",
    )


E15_ORACLE = f"""
WITH a AS (SELECT vec_id AS anchor_id, embedding AS av, label AS albl
           FROM embeddings WHERE vec_id < 15),
c AS (SELECT vec_id AS neg_id, embedding AS nv, label AS nlbl FROM embeddings),
scored AS (
  SELECT anchor_id, neg_id,
         ({_dot_sql('av', 'nv')})
         / (sqrt({_dot_sql('av', 'av')}) * sqrt({_dot_sql('nv', 'nv')})) AS cosine
  FROM a CROSS JOIN c
  WHERE albl <> nlbl AND anchor_id <> neg_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY anchor_id
                               ORDER BY cosine DESC, neg_id) AS rank
  FROM scored
)
SELECT anchor_id, neg_id, CAST(rank AS INTEGER) AS rank, round(cosine, 6) AS cosine
FROM ranked WHERE rank <= 4
"""

QUERIES["e15_hard_negatives"] = (e15_hard_negatives, E15_ORACLE)


def e15b_hard_negatives_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shipped 100 TB hard-negative path: candidates come from the
    seeded IVF inverted file (anchors probe their 4 nearest of 16 cells),
    label-exclusion and ranking unchanged — per-anchor work is
    O(n_probe·N/n_cells), no corpus cross join anywhere in the plan."""
    from peskas_timor_data_pipeline_spark.llm.similarity import hard_negatives

    emb = load(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 15)
    return hard_negatives(
        emb, "vec_id", "embedding", "label", k=4, dim=DIM, anchors=anchors,
        method="ivf", n_cells=16, n_probe=4,
    )


E15B_ORACLE = f"""
WITH cents AS (
  SELECT vec_id AS cell_id, embedding AS cvec
  FROM embeddings
  ORDER BY md5('cent#' || CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
),
c AS (SELECT vec_id AS neg_id, embedding AS nv, label AS nlbl FROM embeddings),
a AS (SELECT vec_id AS anchor_id, embedding AS av, label AS albl
      FROM embeddings WHERE vec_id < 15),
assign AS (
  SELECT neg_id, cell_id, nv, nlbl,
         row_number() OVER (
           PARTITION BY neg_id
           ORDER BY ({_dot_sql('nv', 'cvec')})
                    / (sqrt({_dot_sql('nv', 'nv')}) * sqrt({_dot_sql('cvec', 'cvec')})) DESC,
                    cell_id
         ) AS rn
  FROM c CROSS JOIN cents
),
inv AS (SELECT cell_id, neg_id, nv, nlbl FROM assign WHERE rn = 1),
probe AS (
  SELECT anchor_id, av, albl, cell_id,
         row_number() OVER (
           PARTITION BY anchor_id
           ORDER BY ({_dot_sql('av', 'cvec')})
                    / (sqrt({_dot_sql('av', 'av')}) * sqrt({_dot_sql('cvec', 'cvec')})) DESC,
                    cell_id
         ) AS rn
  FROM a CROSS JOIN cents
),
probes AS (SELECT anchor_id, av, albl, cell_id FROM probe WHERE rn <= 4),
scored AS (
  SELECT anchor_id, neg_id,
         ({_dot_sql('av', 'nv')})
         / (sqrt({_dot_sql('av', 'av')}) * sqrt({_dot_sql('nv', 'nv')})) AS cosine
  FROM probes JOIN inv USING (cell_id)
  WHERE albl <> nlbl AND anchor_id <> neg_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY anchor_id
                               ORDER BY cosine DESC, neg_id) AS rank
  FROM scored
)
SELECT anchor_id, neg_id, CAST(rank AS INTEGER) AS rank, round(cosine, 6) AS cosine
FROM ranked WHERE rank <= 4
"""

QUERIES["e15b_hard_negatives_ann"] = (e15b_hard_negatives_ann, E15B_ORACLE)


# --- T22: BM25 ranked retrieval ---------------------------------------------------------

_T22_QUERIES = [
    (1, ["hash", "join"]),
    (2, ["window", "agg", "sort"]),
    (3, ["vector", "stream", "spark"]),
]


def t22_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse ranked retrieval: Lucene-BM25 top-5 docs for three fixed
    term-set queries. The oracle rebuilds postings, document lengths,
    corpus stats, idf, and the rank window, so a bug anywhere in the
    scoring chain breaks the hash."""
    from peskas_timor_data_pipeline_spark.llm.text import bm25_topk

    docs = load(spark, sf_dir, "documents")
    return bm25_topk(docs, "doc_id", "text", _T22_QUERIES, k=5)


def _t22_sql() -> str:
    k1, b = 1.2, 0.75
    vals = ", ".join(
        f"({qid}, '{t}')" for qid, terms in _T22_QUERIES for t in terms
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> ''
  GROUP BY doc_id, term
),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
qt(query_id, term) AS (VALUES {vals}),
dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY term
),
scored AS (
  SELECT q.query_id, t.doc_id,
         sum(ln(1.0 + ((s.n_docs - d.df) + 0.5) / (d.df + 0.5))
             * (t.tf * {k1 + 1.0!r}) / (t.tf + {k1!r} * ({1.0 - b!r} + ({b!r} * l.dl) / s.avgdl)))
           AS s
  FROM tf t
  JOIN qt q USING (term)
  JOIN dfreq d USING (term)
  JOIN dl l USING (doc_id)
  CROSS JOIN stats s
  GROUP BY q.query_id, t.doc_id
),
ranked AS (
  SELECT query_id, doc_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id)
           AS rank
  FROM scored
)
SELECT query_id, doc_id, CAST(rank AS INTEGER) AS rank, round(s, 6) AS score
FROM ranked WHERE rank <= 5
"""


QUERIES["t22_bm25_topk"] = (t22_bm25_topk, _t22_sql())


# --- T23: BPE encode (train-then-serve round trip) --------------------------------------

def t23_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer serving path: train 3 BPE merges on the corpus, encode the
    distinct-token vocabulary with them (same scan-replace semantics), join
    back, and report per-source compression (tokens, BPE pieces, avg). The
    oracle replays training AND encoding, so the round trip is hash-checked
    end to end."""
    from peskas_timor_data_pipeline_spark.llm.text import bpe_encode, bpe_train_merges

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    merges = bpe_train_merges(toks.select("tok"), "tok", n_merges=3)
    enc = bpe_encode(toks.select("tok").distinct(), "tok", merges, n_merges=3)
    return (
        toks.join(enc.select("tok", "n_pieces"), "tok")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
            F.round(F.sum("n_pieces") / F.count(F.lit(1)), 6).alias("avg_pieces"),
        )
    )


def _t23_sql() -> str:
    head = """
WITH tokf AS (
  SELECT source, tok FROM (
    SELECT source, unnest(string_split_regex(lower(text), '\\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), vocab AS (
  SELECT tok, count(*) AS w FROM tokf GROUP BY tok
), v0 AS MATERIALIZED (
  SELECT tok, w, trim(regexp_replace(tok, '(.)', '\\1 ', 'g')) AS sym FROM vocab
)"""
    steps = []
    for s in (1, 2, 3):
        prev = f"v{s - 1}"
        steps.append(f""",
p{s} AS (
  SELECT pr.pair, CAST(sum(pr.w) AS BIGINT) AS c FROM (
    SELECT a.w, a.arr[u.i] || ' ' || a.arr[u.i + 1] AS pair
    FROM (SELECT w, string_split(sym, ' ') AS arr FROM {prev}) a,
         unnest(generate_series(1, len(a.arr) - 1)) AS u(i)
  ) pr GROUP BY pr.pair
),
t{s} AS MATERIALIZED (SELECT pair, c FROM p{s} ORDER BY c DESC, pair LIMIT 1),
v{s} AS MATERIALIZED (
  SELECT tok, w,
         trim(replace(' ' || sym || ' ',
                      ' ' || (SELECT pair FROM t{s}) || ' ',
                      ' ' || replace((SELECT pair FROM t{s}), ' ', '') || ' '))
           AS sym
  FROM {prev}
)""")
    tail = """,
enc AS (
  SELECT tok, CAST(len(string_split(sym, ' ')) AS INTEGER) AS n_pieces FROM v3
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
       round(CAST(sum(n_pieces) AS BIGINT) / count(*), 6) AS avg_pieces
FROM tokf JOIN enc USING (tok)
GROUP BY source
"""
    return head + "".join(steps) + tail


QUERIES["t23_bpe_encode"] = (t23_bpe_encode, _t23_sql())


# --- D10: LSH tuning evaluation (precision/recall vs exact Jaccard) ---------------------

def d10_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the d2 band configuration (16 hashes, bands of
    8) against exact Jaccard>=0.5 truth on a sampled audit corpus: every
    20th doc plus exact copies, tail-mutated copies (J just under 1), and
    half-truncated copies (J near the threshold) — so both ratios have
    room to miss.
    The oracle rebuilds shingle sets, the inverted-index truth, the full
    MinHash/banding chain, and both ratios."""
    from peskas_timor_data_pipeline_spark.llm.dedup import lsh_eval

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 20 == 0)
    exact = base.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    tailed = base.filter(F.col("doc_id") % 40 == 20).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" slow fast value table")).alias("text"),
    )
    halved = base.filter(F.col("doc_id") % 60 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.expr(
            "substr(text, 1, CAST(floor(length(text) / 2) AS INT))"
        ).alias("text"),
    )
    corpus = base.unionByName(exact).unionByName(tailed).unionByName(halved)
    return lsh_eval(
        corpus, "doc_id", "text",
        threshold=0.5, n_hashes=N_HASHES, band_size=BAND_SIZE,
        k_shingle=K_SHINGLE,
    )


_D10_CORPUS = """
corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 40 = 0
  UNION ALL
  SELECT doc_id + 2000000, text || ' slow fast value table'
  FROM documents WHERE doc_id % 40 = 20
  UNION ALL
  SELECT doc_id + 3000000,
         substr(text, 1, CAST(floor(length(text) / 2) AS INTEGER))
  FROM documents WHERE doc_id % 60 = 0
)
"""

D10_ORACLE = f"""
WITH {_D10_CORPUS},
sh0 AS (
  SELECT doc_id, substr(lower(text), CAST(i AS INTEGER), {K_SHINGLE}) AS sh
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, length(text) - {K_SHINGLE - 1})) AS i
        FROM corpus)
),
sets AS (SELECT DISTINCT doc_id, sh FROM sh0),
sizes AS (SELECT doc_id, count(*) AS set_size FROM sets GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sets a JOIN sets b USING (sh)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
truth AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes za ON za.doc_id = id_a
  JOIN sizes zb ON zb.doc_id = id_b
  WHERE n_inter * 1.0 / (za.set_size + zb.set_size - n_inter) >= 0.5
),
shd AS (SELECT doc_id, sh, {_DIG_SQL} AS dig FROM sets),
sig AS (SELECT doc_id, {_SIG_COLS} FROM shd GROUP BY doc_id),
long AS (SELECT doc_id, unnest([{_BAND_LIST}]) AS band_key FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM long a JOIN long b USING (band_key)
  WHERE a.doc_id < b.doc_id
),
flags AS (
  SELECT coalesce(t.id_a, c.id_a) AS id_a, coalesce(t.id_b, c.id_b) AS id_b,
         CASE WHEN t.id_a IS NOT NULL THEN 1 END AS tf,
         CASE WHEN c.id_a IS NOT NULL THEN 1 END AS cf
  FROM (SELECT id_a, id_b FROM truth) t
  FULL OUTER JOIN (SELECT id_a, id_b FROM cand) c
    ON t.id_a = c.id_a AND t.id_b = c.id_b
)
SELECT CAST(coalesce(sum(tf), 0) AS BIGINT) AS n_truth,
       CAST(coalesce(sum(cf), 0) AS BIGINT) AS n_candidates,
       CAST(coalesce(sum(tf * cf), 0) AS BIGINT) AS true_positives,
       round(coalesce(sum(tf * cf), 0) / CAST(nullif(coalesce(sum(cf), 0), 0) AS DOUBLE), 6) AS precision,
       round(coalesce(sum(tf * cf), 0) / CAST(nullif(coalesce(sum(tf), 0), 0) AS DOUBLE), 6) AS recall
FROM flags
"""

QUERIES["d10_lsh_eval"] = (d10_lsh_eval, D10_ORACLE)


# --- T24: DSIR importance selection -----------------------------------------------------

def t24_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-targeted selection: treat source 'src0' as the target domain
    and pick the 20 non-target docs whose token distribution looks most
    src0-like under the smoothed unigram log-likelihood ratio. Scores are
    rounded BEFORE ranking so the rank inputs are engine-identical; the
    oracle rebuilds both LMs, the ratio, and the top-k."""
    from peskas_timor_data_pipeline_spark.llm.text import dsir_select

    docs = load(spark, sf_dir, "documents").withColumn(
        "is_target", F.col("source") == "src0"
    )
    return dsir_select(docs, "doc_id", "text", "is_target", k=20)


T24_ORACLE = """
WITH toks AS (
  SELECT doc_id, source = 'src0' AS tgt, token FROM (
    SELECT doc_id, source,
           unnest(string_split_regex(lower(text), '\\s+')) AS token
    FROM documents
  ) WHERE token <> ''
),
counts AS (
  SELECT token,
         CAST(count(*) AS BIGINT) AS c_raw,
         CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS c_tgt
  FROM toks GROUP BY token
),
totals AS (
  SELECT CAST(sum(c_raw) AS BIGINT) AS t_raw,
         CAST(sum(c_tgt) AS BIGINT) AS t_tgt,
         CAST(count(*) AS BIGINT) AS v
  FROM counts
),
scored AS (
  SELECT k.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         round(sum(ln((c.c_tgt + 1) / CAST(t.t_tgt + t.v AS DOUBLE))
                   - ln((c.c_raw + 1) / CAST(t.t_raw + t.v AS DOUBLE)))
               / count(*), 6) AS avg_logratio
  FROM toks k JOIN counts c USING (token) CROSS JOIN totals t
  WHERE NOT k.tgt
  GROUP BY k.doc_id
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY avg_logratio DESC, doc_id) AS rank
  FROM scored
)
SELECT CAST(rank AS INTEGER) AS rank, doc_id, n_tokens, avg_logratio
FROM ranked WHERE rank <= 20
"""

QUERIES["t24_dsir_select"] = (t24_dsir_select, T24_ORACLE)


# --- MM8: REAL nearest-neighbor image resize --------------------------------------------

def mm8_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full decode -> NN-resize -> re-encode -> decode-again round trip:
    synthesize the mm3 formula image per doc, resize to 8x6 with exact
    integer index sampling, and verify BOTH a second real decode of the
    re-encoded bytes (mean pixel) and a position-weighted checksum that a
    transposed pixel would break. The oracle replays the NN index map
    from the generating formula."""
    from peskas_timor_data_pipeline_spark.llm.multimodal import (
        decode_image_meta,
        resize_images_real,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id")

    media = _synth_media(docs, _mm_ppm)
    resized = resize_images_real(media, "doc_id", "content", target_w=8, target_h=6)
    meta = decode_image_meta(resized, "doc_id")
    return resized.select("doc_id", "width", "height", "pix_checksum").join(
        meta.select("doc_id", F.round("mean_pixel", 6).alias("mean_pixel")),
        "doc_id",
    )


MM8_ORACLE = """
WITH dims AS (
  SELECT doc_id, doc_id % 13 + 1 AS w, doc_id % 7 + 1 AS h FROM documents
), flat AS (
  SELECT doc_id, w, h, unnest(generate_series(0, 8 * 6 * 3 - 1)) AS t
  FROM dims
), px AS (
  SELECT doc_id, t,
         (doc_id
          + (((t % 24) // 3) * w) // 8
          + ((t // 24) * h) // 6
          + t % 3) % 256 AS val
  FROM flat
)
SELECT doc_id, 8 AS width, 6 AS height,
       CAST(sum(val * (t + 1)) % 1000000007 AS BIGINT) AS pix_checksum,
       round(avg(CAST(val AS DOUBLE)), 6) AS mean_pixel
FROM px GROUP BY doc_id
"""

QUERIES["mm8_image_resize"] = (mm8_image_resize, MM8_ORACLE)


# --- MM9: scene-cut detection over real decoded video -----------------------------------

def mm9_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a Y4M clip per doc with scene structure — doc_id%6+4
    frames of 8x6 luma, pixel = (doc_id + 40*(frame//3) + x + y) % 256, so
    frames within a 3-frame scene are identical and scene boundaries jump
    by 40 (with mod-256 wraparound making per-pixel diffs vary) — decode
    the actual bytes and flag cuts where mean abs frame diff > 20. Oracle
    replays the SAD arithmetic from the generating formula."""
    import numpy as np

    from peskas_timor_data_pipeline_spark.llm.multimodal import (
        encode_y4m,
        scene_cuts,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(did: int) -> bytes:
        y, x = np.indices((6, 8))
        return encode_y4m(
            np.stack(
                [
                    ((did + 40 * (f // 3) + x + y) % 256).astype(np.uint8)
                    for f in range(did % 6 + 4)
                ]
            )
        )

    media = _synth_media(docs, make)
    out = scene_cuts(media, "doc_id", threshold=20.0)
    return out.select(
        "doc_id", "frame_idx", "sad", F.round("mad", 6).alias("mad"), "is_cut"
    )


MM9_ORACLE = """
WITH dims AS (
  SELECT doc_id, doc_id % 6 + 4 AS nf FROM documents
), pairs AS (
  SELECT doc_id, unnest(generate_series(1, nf - 1)) AS f FROM dims
), px AS (
  SELECT doc_id, f, unnest(generate_series(0, 47)) AS t FROM pairs
), vals AS (
  SELECT doc_id, f,
         (doc_id + 40 * (f // 3) + t % 8 + t // 8) % 256 AS cur,
         (doc_id + 40 * ((f - 1) // 3) + t % 8 + t // 8) % 256 AS prev
  FROM px
)
SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
       CAST(sum(abs(cur - prev)) AS BIGINT) AS sad,
       round(CAST(sum(abs(cur - prev)) AS BIGINT) / 48.0, 6) AS mad,
       CAST(sum(abs(cur - prev)) AS BIGINT) / 48.0 > 20.0 AS is_cut
FROM vals GROUP BY doc_id, f
"""

QUERIES["mm9_scene_cuts"] = (mm9_scene_cuts, MM9_ORACLE)


# --- E16: Matryoshka truncated-dimension recall -----------------------------------------

def e16_mrl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of ranking by the FIRST 16 of 64 dimensions against the
    full-dimension exact ranking — the evaluation a Matryoshka-style
    truncated-serving deployment runs before shrinking its index 4x. Pure
    reuse of the brute-force scorer at two dims plus the recall join."""
    from peskas_timor_data_pipeline_spark.llm.similarity import (
        cosine_topk_bruteforce,
        topk_recall,
    )

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    candidates = emb.filter(F.col("vec_id") >= 20)
    exact = cosine_topk_bruteforce(
        queries, candidates, "vec_id", "embedding", k=5, dim=DIM
    )
    truncated = cosine_topk_bruteforce(
        queries, candidates, "vec_id", "embedding", k=5, dim=16
    )
    return topk_recall(exact, truncated)


def _dot16(a: str, b: str) -> str:
    return " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, 17)
    )


E16_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings WHERE vec_id >= 20),
exact_ranked AS (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id ORDER BY
           ({_dot_sql('qv', 'cv')})
           / (sqrt({_dot_sql('qv', 'qv')}) * sqrt({_dot_sql('cv', 'cv')})) DESC,
           cand_id) AS rank
  FROM q CROSS JOIN c
),
exact_k AS (SELECT query_id, cand_id FROM exact_ranked WHERE rank <= 5),
trunc_ranked AS (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id ORDER BY
           ({_dot16('qv', 'cv')})
           / (sqrt({_dot16('qv', 'qv')}) * sqrt({_dot16('cv', 'cv')})) DESC,
           cand_id) AS rank
  FROM q CROSS JOIN c
),
trunc_k AS (SELECT query_id, cand_id, 1 AS hit FROM trunc_ranked WHERE rank <= 5)
SELECT e.query_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(sum(coalesce(a.hit, 0)) AS BIGINT) AS n_hits,
       round(sum(coalesce(a.hit, 0)) / CAST(count(*) AS DOUBLE), 6) AS recall
FROM exact_k e LEFT JOIN trunc_k a USING (query_id, cand_id)
GROUP BY e.query_id
"""

QUERIES["e16_mrl_recall"] = (e16_mrl_recall, E16_ORACLE)


# --- D11: content-defined chunking (shift-tolerant dedup unit) --------------------------

def d11_cdc_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC shift tolerance, measured: every 10th doc plus a prefix-edited
    copy ('X ' + text). Content-defined boundaries re-align within one
    window, so most distinct segment hashes survive the edit (the whole
    point vs fixed-width segments). Output per doc: distinct segments on
    each side, the intersection, and the surviving fraction. The oracle
    rebuilds boundaries char-by-char with a running boundary count and
    ordered string_agg."""
    from peskas_timor_data_pipeline_spark.llm.dedup import cdc_segments

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 10 == 0)
    shifted = base.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("X "), F.col("text")).alias("text"),
    )
    from peskas_timor_data_pipeline_spark.llm.ckpt import materialize

    # the segment frame feeds o/s and three aggregates — cut the lineage so
    # the boundary scan runs once, not per reference
    segs = materialize(
        cdc_segments(base.unionByName(shifted), "doc_id", "text")
    )
    o = (
        segs.filter(F.col("doc_id") < 1000000)
        .select("doc_id", "seg_hash").distinct()
    )
    s = (
        segs.filter(F.col("doc_id") >= 1000000)
        .select((F.col("doc_id") - 1000000).alias("doc_id"), "seg_hash")
        .distinct()
    )
    no = o.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_orig"))
    ns = s.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_shift"))
    nsh = (
        o.join(s, ["doc_id", "seg_hash"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        no.join(ns, "doc_id")
        .join(nsh, "doc_id", "left")
        .select(
            "doc_id",
            "n_orig",
            "n_shift",
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            F.round(
                F.coalesce("n_shared", F.lit(0)) / F.col("n_orig"), 6
            ).alias("shared_frac"),
        )
    )


D11_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 1000000, 'X ' || text FROM documents WHERE doc_id % 10 = 0
), chars AS (
  SELECT doc_id, i, substr(text, CAST(i AS INTEGER), 1) AS ch,
         CASE WHEN i >= 8
                   AND substr(md5(substr(text, CAST(i - 7 AS INTEGER), 8)), 32, 1) = '0'
              THEN 1 ELSE 0 END AS b
  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i
        FROM corpus)
), assigned AS MATERIALIZED (
  SELECT doc_id, i, ch,
         coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY i
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS seg
  FROM chars
), segs AS MATERIALIZED (
  SELECT doc_id, seg, md5(string_agg(ch, '' ORDER BY i)) AS seg_hash
  FROM assigned GROUP BY doc_id, seg
), o AS MATERIALIZED (
  SELECT DISTINCT doc_id, seg_hash FROM segs WHERE doc_id < 1000000
), s AS MATERIALIZED (
  SELECT DISTINCT doc_id - 1000000 AS doc_id, seg_hash FROM segs
  WHERE doc_id >= 1000000
), no AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_orig FROM o GROUP BY doc_id),
ns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shift FROM s GROUP BY doc_id),
nsh AS (
  SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_shared
  FROM o JOIN s ON o.doc_id = s.doc_id AND o.seg_hash = s.seg_hash
  GROUP BY o.doc_id
)
SELECT no.doc_id, no.n_orig, ns.n_shift,
       coalesce(nsh.n_shared, 0) AS n_shared,
       round(coalesce(nsh.n_shared, 0) / CAST(no.n_orig AS DOUBLE), 6)
         AS shared_frac
FROM no JOIN ns ON no.doc_id = ns.doc_id
LEFT JOIN nsh ON no.doc_id = nsh.doc_id
"""

QUERIES["d11_cdc_segments"] = (d11_cdc_segments, D11_ORACLE)


# --- T25: corpus novelty curve ----------------------------------------------------------

def t25_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document (in doc_id arrival order): the fraction of its
    distinct 8-char grams never seen in any EARLIER document — the
    corpus-growth diagnostic that shows when additional crawl stops
    adding new content. One explode + one gram-keyed min + a join back;
    integer ratio, no float surface."""
    from peskas_timor_data_pipeline_spark.llm.dedup import shingle_rows

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    grams = shingle_rows(docs, "doc_id", "text", k_shingle=8).distinct()
    first = grams.groupBy("sh").agg(F.min("doc_id").alias("__first__"))
    per_doc = (
        grams.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("__first__") == F.col("doc_id"), 1).otherwise(0)
            ).cast("long").alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id", "n_grams", "n_novel",
        F.round(F.col("n_novel") / F.col("n_grams"), 6).alias("novelty"),
    )


T25_ORACLE = """
WITH grams AS MATERIALIZED (
  SELECT DISTINCT doc_id, substr(lower(text), CAST(i AS INTEGER), 8) AS sh
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, length(text) - 7)) AS i
        FROM documents)
), first AS (
  SELECT sh, min(doc_id) AS f FROM grams GROUP BY sh
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN f = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       round(sum(CASE WHEN f = g.doc_id THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS novelty
FROM grams g JOIN first USING (sh)
GROUP BY g.doc_id
"""

QUERIES["t25_ngram_novelty"] = (t25_ngram_novelty, T25_ORACLE)


# --- E17: power-iteration top eigenvector (PCA-lite) ------------------------------------

def e17_top_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the first 8 embedding dims: one
    moments pass over the corpus, covariance rounded before iterating,
    three unrolled power-iteration steps with signed-pivot normalization.
    The oracle replays moments, matrix, and all three iterations."""
    from peskas_timor_data_pipeline_spark.llm.similarity import top_eigenvector

    emb = load(spark, sf_dir, "embeddings")
    return top_eigenvector(emb, "embedding", dim=8, n_iter=3)


def _e17_sql() -> str:
    dim, r = 8, 6
    sums = ", ".join(
        f"sum(CAST(embedding[{i}] AS DOUBLE)) AS s{i}" for i in range(1, dim + 1)
    )
    prods = ", ".join(
        f"sum(CAST(embedding[{i}] AS DOUBLE) * CAST(embedding[{j}] AS DOUBLE)) AS p{i}_{j}"
        for i in range(1, dim + 1) for j in range(i, dim + 1)
    )
    cov_arms = " UNION ALL ".join(
        f"SELECT {i} AS i, {j} AS j, "
        f"round((p{min(i,j)}_{max(i,j)} - s{i} * s{j} / n) / n, {r}) AS c FROM m"
        for i in range(1, dim + 1) for j in range(1, dim + 1)
    )
    v0 = ", ".join(f"({j}, 1.0)" for j in range(1, dim + 1))
    iters = []
    for k in (1, 2, 3):
        prev = f"v{k - 1}"
        iters.append(f""",
cv{k} AS (
  SELECT cov.i, round(sum(cov.c * {prev}.v), {r}) AS cv
  FROM cov JOIN {prev} ON cov.j = {prev}.j GROUP BY cov.i
),
piv{k} AS (SELECT cv FROM cv{k} ORDER BY abs(cv) DESC, i LIMIT 1),
v{k} AS (
  SELECT i AS j, round(cv / (SELECT cv FROM piv{k}), {r}) AS v FROM cv{k}
)""")
    return f"""
WITH m AS (
  SELECT CAST(count(*) AS BIGINT) AS n, {sums}, {prods} FROM embeddings
),
cov AS ({cov_arms}),
v0(j, v) AS (VALUES {v0}){''.join(iters)}
SELECT CAST(j AS BIGINT) AS i, v AS component,
       (SELECT abs(cv) FROM piv3) AS eigenvalue
FROM v3
"""


QUERIES["e17_top_eigenvector"] = (e17_top_eigenvector, _e17_sql())


# --- MM10: audio decimation (real decode -> every-3rd-sample -> re-encode) --------------

def mm10_audio_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the mm4 WAV per doc, decimate by 3 through the real
    codec round trip, then decode the RE-ENCODED bytes again and report
    rate/frames/duration/RMS of the result — two full codec passes
    hash-checked against the generating formula on the kept indices."""
    from peskas_timor_data_pipeline_spark.llm.multimodal import (
        decimate_audio,
        decode_audio_meta,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id")

    media = _synth_media(docs, _mm_wav)
    dec = decimate_audio(media, "doc_id", factor=3)
    meta = decode_audio_meta(dec, "doc_id")
    return dec.select("doc_id", "n_in", "n_out").join(
        meta.select(
            "doc_id", "sample_rate", "n_samples",
            F.round("duration_s", 6).alias("duration_s"),
            F.round("rms", 6).alias("rms"),
        ),
        "doc_id",
    )


MM10_ORACLE = """
WITH dims AS (
  SELECT doc_id, (doc_id % 50 + 1) * 80 AS n FROM documents
), kept AS (
  SELECT doc_id, n, unnest(generate_series(0, n - 1, 3)) AS i FROM dims
), stats AS (
  SELECT doc_id, n, CAST(count(*) AS BIGINT) AS n_out,
         avg(pow((((doc_id + i) % 256 - 128) * 100) / 32768.0, 2)) AS msq
  FROM kept GROUP BY doc_id, n
)
SELECT doc_id, CAST(n AS BIGINT) AS n_in, n_out,
       2666 AS sample_rate, n_out AS n_samples,
       round(n_out / 2666.0, 6) AS duration_s,
       round(sqrt(msq), 6) AS rms
FROM stats
"""

QUERIES["mm10_audio_decimate"] = (mm10_audio_decimate, MM10_ORACLE)


# --- T26: token frequency spectrum ------------------------------------------------------

def t26_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequencies spectrum (the Zipf/Good-Turing corpus
    diagnostic): how many token types occur exactly k times, plus each
    row's share of the vocabulary. Two partial-aggregated groupBys —
    corpus rows never meet the spectrum shuffle."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("freq"))
    spectrum = counts.groupBy("freq").agg(
        F.count(F.lit(1)).cast("long").alias("n_types")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy()
    return spectrum.select(
        "freq", "n_types",
        F.round(F.col("n_types") / F.sum("n_types").over(w), 6).alias("vocab_share"),
    )


T26_ORACLE = """
WITH toks AS (
  SELECT tok FROM (
    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM documents
  ) WHERE tok <> ''
), counts AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY tok
), spectrum AS (
  SELECT freq, CAST(count(*) AS BIGINT) AS n_types FROM counts GROUP BY freq
)
SELECT freq, n_types,
       round(n_types / CAST(sum(n_types) OVER () AS DOUBLE), 6) AS vocab_share
FROM spectrum
"""

QUERIES["t26_freq_spectrum"] = (t26_freq_spectrum, T26_ORACLE)


# --- E18: IVF index health (cell-balance report) ----------------------------------------

def e18_ivf_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-list balance of the e3/e10 IVF configuration (16 seeded
    cells over the candidate corpus): used cells, list-length extremes,
    and the max/avg imbalance factor that predicts probe-latency skew.
    Oracle replays seeding, assignment, and the rollup."""
    from peskas_timor_data_pipeline_spark.llm.similarity import ivf_cell_stats

    emb = load(spark, sf_dir, "embeddings")
    candidates = emb.filter(F.col("vec_id") >= 20)
    return ivf_cell_stats(candidates, "vec_id", "embedding", n_cells=16, dim=DIM)


E18_ORACLE = f"""
WITH c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings WHERE vec_id >= 20),
cents AS (
  SELECT vec_id AS cell_id, embedding AS cvec
  FROM embeddings WHERE vec_id >= 20
  ORDER BY md5('cent#' || CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
),
assign AS (
  SELECT cand_id, cell_id,
         row_number() OVER (
           PARTITION BY cand_id
           ORDER BY ({_dot_sql('cv', 'cvec')})
                    / (sqrt({_dot_sql('cv', 'cv')}) * sqrt({_dot_sql('cvec', 'cvec')})) DESC,
                    cell_id
         ) AS rn
  FROM c CROSS JOIN cents
),
sizes AS (
  SELECT cell_id, CAST(count(*) AS BIGINT) AS sz
  FROM assign WHERE rn = 1 GROUP BY cell_id
)
SELECT CAST(count(*) AS BIGINT) AS n_cells_used,
       CAST(sum(sz) AS BIGINT) AS n_vectors,
       min(sz) AS min_cell,
       max(sz) AS max_cell,
       round(CAST(sum(sz) AS BIGINT) / CAST(count(*) AS DOUBLE), 6) AS avg_cell,
       round(max(sz) / (CAST(sum(sz) AS BIGINT) / CAST(count(*) AS DOUBLE)), 6)
         AS imbalance
FROM sizes
"""

QUERIES["e18_ivf_cell_stats"] = (e18_ivf_cell_stats, E18_ORACLE)


# --- D12: best-representative dedup (keep the most complete duplicate) ------------------

def _d12_enc_guarded() -> Column:
    """The d12 single-pass argmax encoding over (node, n_chars), GUARDED
    (r12, VERDICT r11 #9): ``n_chars * 2^34 + (2^34-1 - node)`` is exact
    only for 0 <= node < 2^34 and n_chars < 2^28 — far beyond this
    corpus's ids/lengths, but a different id scheme must fail loudly
    (raise_error), not rank wrong. The guard branch is constant-true on
    valid data, so values (and the oracle hash) are untouched."""
    enc_c = 1 << 34
    enc = F.col("n_chars").cast("long") * F.lit(enc_c) + (
        F.lit(enc_c - 1) - F.col("node")
    )
    return F.when(
        (F.col("node") >= 0)
        & (F.col("node") < F.lit(enc_c))
        & (F.col("n_chars") < F.lit(1 << 28)),
        enc,
    ).otherwise(
        F.raise_error(
            F.lit(
                "d12 argmax encoding out of range: requires 0 <= node < 2^34 "
                "and n_chars < 2^28"
            )
        )
    )


def d12_best_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-grade survivor selection: within each near-dup cluster
    (d5's MinHash-LSH -> connected components), keep the LONGEST copy
    (integer tie-break on doc id) — 'keep the most complete duplicate',
    the writer-side policy that beats min-id when crawls truncate. The
    oracle replays the whole chain: signatures, banding, components, and
    the length-ranked pick."""
    from peskas_timor_data_pipeline_spark.llm.cluster import connected_components
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = minhash_signature(docs, "doc_id", "text", N_HASHES, K_SHINGLE)
    pairs = lsh_candidate_pairs(sigs, "doc_id", N_HASHES, BAND_SIZE)
    comp = connected_components(pairs)
    sized = comp.join(
        docs.select(
            F.col("doc_id").alias("node"), F.length("text").alias("n_chars")
        ),
        "node",
    )
    # One hash-aggregate replaces the window + self-join pair: the pick
    # "max n_chars, then min node" is the max of ONE fixed-width long
    # (n_chars * 2^34 + (2^34-1 - node); head-room for node ids < 2^34 and
    # n_chars < 2^28 — far beyond any document), aggregated alongside the
    # cluster size in the same pass, so `sized` is computed once and never
    # re-shuffled. Identical rows to the ranked formulation (README
    # fixed-width-aggregate rule; argmax decode is exact integer math).
    enc_c = 1 << 34
    return (
        sized.groupBy("component")
        .agg(
            F.max(_d12_enc_guarded()).alias("__enc__"),
            F.count(F.lit(1)).cast("long").alias("cluster_size"),
        )
        .select(
            "component",
            "cluster_size",
            (F.lit(enc_c - 1) - F.expr(f"__enc__ % {enc_c}L")).alias("rep_doc"),
            F.expr(f"__enc__ div {enc_c}L").cast("int").alias("rep_len"),
        )
    )


D12_ORACLE = f"""
WITH RECURSIVE {_SHINGLE_CTE},
sig AS (SELECT doc_id, {_SIG_COLS} FROM shd GROUP BY doc_id),
long AS (SELECT doc_id, unnest([{_BAND_LIST}]) AS band_key FROM sig),
p AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM long a JOIN long b USING (band_key)
  WHERE a.doc_id < b.doc_id
),
edges AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
reach AS (
  SELECT s AS node, d AS other FROM edges
  UNION
  SELECT r.node, e.d FROM reach r JOIN edges e ON r.other = e.s WHERE e.d <> r.node
),
comp AS (
  SELECT node, least(node, min(other)) AS component FROM reach GROUP BY node
),
sized AS (
  SELECT c.node, c.component, length(d.text) AS n_chars
  FROM comp c JOIN documents d ON d.doc_id = c.node
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY component
                               ORDER BY n_chars DESC, node) AS rn
  FROM sized
),
sizes AS (
  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
  FROM sized GROUP BY component
)
SELECT r.component, s.cluster_size, r.node AS rep_doc,
       CAST(r.n_chars AS INTEGER) AS rep_len
FROM ranked r JOIN sizes s USING (component)
WHERE r.rn = 1
"""

QUERIES["d12_best_representative"] = (d12_best_representative, D12_ORACLE)


# --- E19: Johnson-Lindenstrauss random projection ---------------------------------------

def e19_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse JL projection 64 -> 16 of the embedding store — the cheap
    pre-ANN dimensionality reducer (llm/similarity.py::jl_project). The
    sign matrix folds into literal codegen chains at plan time; output
    vectors serialize to integer-micro strings (e4 convention)."""
    from peskas_timor_data_pipeline_spark.llm.similarity import jl_project

    emb = load(spark, sf_dir, "embeddings")
    out = jl_project(emb, "vec_id", "embedding", dim=DIM, k=16)
    return out.select("vec_id", _vec_to_micros_str("proj").alias("proj"))


def _e19_sql() -> str:
    from peskas_timor_data_pipeline_spark.llm.similarity import (
        jl_project_sql_terms,
    )

    terms = jl_project_sql_terms("embedding", DIM, 16)
    cells = ", ".join(
        f"CAST(round(round({t}, 6) * 1e6) AS BIGINT)" for t in terms
    )
    return (
        f"SELECT vec_id, array_to_string([{cells}], ',') AS proj FROM embeddings"
    )


QUERIES["e19_jl_projection"] = (e19_jl_projection, _e19_sql())


# --- D13: asymmetric containment near-dup pairs -----------------------------------------

def d13_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment pairs over 32-grams: the quote/excerpt detector that
    symmetric Jaccard under-scores when document lengths differ
    (llm/dedup.py::containment_pairs). Boilerplate grams (df > 50) are
    capped before the self-join so pair fan-out is bounded."""
    from peskas_timor_data_pipeline_spark.llm.dedup import containment_pairs

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return containment_pairs(
        docs, "doc_id", "text", k_shingle=32, min_shared=3, max_df=50
    )


D13_ORACLE = """
WITH grams AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(substr(lower(text), CAST(i AS INTEGER), 32)), 1, 15))::BIGINT AS gh
  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text) - 31)) AS i
        FROM documents WHERE length(text) >= 32)
), sizes AS MATERIALIZED (
  SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id
), keep AS (
  SELECT gh FROM grams GROUP BY gh HAVING count(*) <= 50
), g AS MATERIALIZED (
  SELECT doc_id, gh FROM grams JOIN keep USING (gh)
), pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
  FROM g a JOIN g b ON a.gh = b.gh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*) >= 3
)
SELECT id_a, id_b, n_shared,
       CAST(n_shared * 1000000 // na.n AS BIGINT) AS containment_a_ppm,
       CAST(n_shared * 1000000 // nb.n AS BIGINT) AS containment_b_ppm
FROM pairs
JOIN sizes na ON na.doc_id = id_a
JOIN sizes nb ON nb.doc_id = id_b
"""

QUERIES["d13_containment"] = (d13_containment, D13_ORACLE)


# --- MM11: dataset channel normalization constants --------------------------------------

def mm11_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level per-channel pixel mean/variance THROUGH REAL BYTES —
    the normalization constants a vision training pipeline bakes into
    preprocessing: synthesize the mm3 P6 PPMs, decode them back with the
    pure-Python codec, and reduce integer (sum, sumsq, count) partials per
    channel (llm/multimodal.py::image_channel_sums). The oracle recomputes
    everything from the generating formula, so a header-parse, layout, or
    channel-order bug breaks the hash."""
    from peskas_timor_data_pipeline_spark.llm.multimodal import image_channel_sums

    docs = load(spark, sf_dir, "documents").select("doc_id")

    media = _synth_media(docs, _mm_ppm)
    sums = image_channel_sums(media, "doc_id")
    agg = sums.groupBy("channel").agg(
        F.sum("n_pixels").alias("n_pixels"),
        F.sum("px_sum").alias("px_sum"),
        F.sum("px_sumsq").alias("px_sumsq"),
    )
    num = (F.col("n_pixels") * F.col("px_sumsq") - F.col("px_sum") * F.col("px_sum"))
    den = F.col("n_pixels") * F.col("n_pixels")
    return agg.select(
        "channel",
        "n_pixels",
        "px_sum",
        "px_sumsq",
        exact_ppm("px_sum", "n_pixels").alias("mean_micros"),
        F.round(num.cast("double") / den.cast("double"), 6).alias("variance"),
    )


MM11_ORACLE = """
WITH per_img AS (
  SELECT doc_id, c.c AS channel,
         CAST(w * h AS BIGINT) AS n_pixels,
         CAST(list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
           list_transform(generate_series(0, w - 1), x ->
             (doc_id + x + y + c.c) % 256)))) AS BIGINT) AS px_sum,
         CAST(list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
           list_transform(generate_series(0, w - 1), x ->
             ((doc_id + x + y + c.c) % 256) * ((doc_id + x + y + c.c) % 256)))))
           AS BIGINT) AS px_sumsq
  FROM (SELECT doc_id, doc_id % 13 + 1 AS w, doc_id % 7 + 1 AS h FROM documents),
       (SELECT unnest([0, 1, 2]) AS c) c
), agg AS (
  SELECT channel,
         CAST(sum(n_pixels) AS BIGINT) AS n_pixels,
         CAST(sum(px_sum) AS BIGINT) AS px_sum,
         CAST(sum(px_sumsq) AS BIGINT) AS px_sumsq
  FROM per_img GROUP BY channel
)
SELECT channel, n_pixels, px_sum, px_sumsq,
       CAST(px_sum * 1000000 // n_pixels AS BIGINT) AS mean_micros,
       round(CAST(n_pixels * px_sumsq - px_sum * px_sum AS DOUBLE)
             / CAST(n_pixels * n_pixels AS DOUBLE), 6) AS variance
FROM agg
"""

QUERIES["mm11_channel_stats"] = (mm11_channel_stats, MM11_ORACLE)


# --- T27: Heaps-law vocabulary growth curve ---------------------------------------------

def t27_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps' law) curve: cumulative distinct word
    types vs cumulative tokens, sampled at 64 md5-ordered corpus shards —
    the curve that tells you whether more data keeps buying new vocabulary
    (and whether a corpus was deduped: a flat tail is a red flag).

    Scale shape: the w8 first-appearance rewrite at shard granularity — a
    type contributes exactly once, at its MINIMUM shard (one partial-
    aggregated min per type), so the only window is a 64-row cumulative,
    never a corpus-length one. Shard assignment is md5, identical in the
    oracle."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.concat(F.lit("vg#"), F.col("doc_id").cast("string"))), 1, 12), 16, 10)
        .cast("long") % 64
    )
    toks = docs.select(
        shard.alias("shard"),
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("token"),
    ).filter(F.col("token") != "")
    per_shard_tokens = toks.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_tokens")
    )
    first_shard = toks.groupBy("token").agg(F.min("shard").alias("shard"))
    per_shard_new = first_shard.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_new_types")
    )
    w = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_shard_tokens.join(per_shard_new, "shard", "full_outer")
        .select(
            "shard",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_new_types", F.lit(0)).alias("n_new_types"),
        )
        .select(
            "shard", "n_tokens", "n_new_types",
            F.sum("n_tokens").over(w).alias("cum_tokens"),
            F.sum("n_new_types").over(w).alias("cum_vocab"),
        )
    )


T27_ORACLE = """
WITH toks AS (
  SELECT ('0x' || substr(md5(concat('vg#', CAST(doc_id AS VARCHAR))), 1, 12))::BIGINT % 64 AS shard,
         token
  FROM (
    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS token
    FROM documents
  ) WHERE token <> ''
), pst AS (
  SELECT shard, count(*) AS n_tokens FROM toks GROUP BY shard
), fs AS (
  SELECT token, min(shard) AS shard FROM toks GROUP BY token
), psn AS (
  SELECT shard, count(*) AS n_new_types FROM fs GROUP BY shard
), joined AS (
  SELECT coalesce(pst.shard, psn.shard) AS shard,
         coalesce(n_tokens, 0) AS n_tokens,
         coalesce(n_new_types, 0) AS n_new_types
  FROM pst FULL OUTER JOIN psn ON pst.shard = psn.shard
)
SELECT shard, n_tokens, n_new_types,
       CAST(sum(n_tokens) OVER (ORDER BY shard ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
       CAST(sum(n_new_types) OVER (ORDER BY shard ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
FROM joined
"""

QUERIES["t27_vocab_growth"] = (t27_vocab_growth, T27_ORACLE)


# --- E20: binary (1-bit) quantization + hamming prefilter + exact rerank ----------------

def e20_binary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage binary ANN serving over the e3 query/candidate split:
    sign-packed 8-byte codes scanned with XOR+popcount INSIDE the query's
    4 probed IVF cells (the default scale path), then exact cosine rerank
    of the 12 nearest-by-hamming (llm/similarity.py::binary_topk_rerank).
    """
    from peskas_timor_data_pipeline_spark.llm.similarity import (
        binary_topk_rerank,
    )

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 50)
    candidates = emb.filter(F.col("vec_id") >= 50)
    return binary_topk_rerank(
        queries, candidates, "vec_id", "embedding", k=3, dim=DIM,
        prefilter_m=12, method="ivf", n_cells=16, n_probe=4,
    )


def _e20_sql() -> str:
    def word(side: str, w: int) -> str:
        return " + ".join(
            f"CASE WHEN {side}[{i + 1}] >= 0 THEN {1 << (i - 32 * w)}::BIGINT ELSE 0::BIGINT END"
            for i in range(32 * w, 32 * (w + 1))
        )

    return f"""
WITH cents AS (
  SELECT vec_id AS cell_id, embedding AS cvec
  FROM embeddings WHERE vec_id >= 50
  ORDER BY md5('cent#' || CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
),
qb AS (
  SELECT vec_id AS query_id, embedding AS qv,
         {word('embedding', 0)} AS qw0, {word('embedding', 1)} AS qw1
  FROM embeddings WHERE vec_id < 50
), cb AS (
  SELECT vec_id AS cand_id, embedding AS cv,
         {word('embedding', 0)} AS cw0, {word('embedding', 1)} AS cw1
  FROM embeddings WHERE vec_id >= 50
), assign AS (
  SELECT cand_id, cell_id, cv, cw0, cw1,
         row_number() OVER (
           PARTITION BY cand_id
           ORDER BY ({_dot_sql('cv', 'cvec')})
                    / (sqrt({_dot_sql('cv', 'cv')}) * sqrt({_dot_sql('cvec', 'cvec')})) DESC,
                    cell_id
         ) AS rn
  FROM cb CROSS JOIN cents
), inv AS MATERIALIZED (SELECT cell_id, cand_id, cv, cw0, cw1 FROM assign WHERE rn = 1),
probe AS (
  SELECT query_id, qv, qw0, qw1, cell_id,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY ({_dot_sql('qv', 'cvec')})
                    / (sqrt({_dot_sql('qv', 'qv')}) * sqrt({_dot_sql('cvec', 'cvec')})) DESC,
                    cell_id
         ) AS rn
  FROM qb CROSS JOIN cents
), probes AS MATERIALIZED (SELECT query_id, qv, qw0, qw1, cell_id FROM probe WHERE rn <= 4),
pre AS (
  SELECT query_id, cand_id, qv, cv,
         bit_count(xor(qw0, cw0)) + bit_count(xor(qw1, cw1)) AS hamming,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY bit_count(xor(qw0, cw0)) + bit_count(xor(qw1, cw1)), cand_id
         ) AS rn
  FROM probes JOIN inv USING (cell_id)
), scored AS MATERIALIZED (
  SELECT query_id, cand_id, CAST(hamming AS BIGINT) AS hamming,
         ({_dot_sql('qv', 'cv')})
         / (sqrt({_dot_sql('qv', 'qv')}) * sqrt({_dot_sql('cv', 'cv')})) AS cosine
  FROM pre WHERE rn <= 12
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id) AS rank
  FROM scored
)
SELECT query_id, cand_id, CAST(rank AS INTEGER) AS rank, hamming,
       round(cosine, 6) AS cosine
FROM ranked WHERE rank <= 3
"""


QUERIES["e20_binary_topk"] = (e20_binary_topk, _e20_sql())


# --- E21: cluster exemplar selection ----------------------------------------------------

def e21_cell_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per IVF cell: the member nearest its centroid plus the member count
    (llm/similarity.py::cell_exemplars) — the corpus-browsing /
    cluster-labeling primitive."""
    from peskas_timor_data_pipeline_spark.llm.similarity import cell_exemplars

    emb = load(spark, sf_dir, "embeddings")
    return cell_exemplars(emb, "vec_id", "embedding", dim=DIM, n_cells=16)


E21_ORACLE = f"""
WITH cents AS (
  SELECT vec_id AS cell_id, embedding AS cvec
  FROM embeddings
  ORDER BY md5('cent#' || CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
),
assign AS (
  SELECT e.vec_id, cell_id,
         ({_dot_sql('e.embedding', 'cvec')})
         / (sqrt({_dot_sql('e.embedding', 'e.embedding')}) * sqrt({_dot_sql('cvec', 'cvec')})) AS cos,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY ({_dot_sql('e.embedding', 'cvec')})
                    / (sqrt({_dot_sql('e.embedding', 'e.embedding')}) * sqrt({_dot_sql('cvec', 'cvec')})) DESC,
                    cell_id
         ) AS rn
  FROM embeddings e CROSS JOIN cents
),
best AS (SELECT vec_id, cell_id, cos FROM assign WHERE rn = 1),
ranked AS (
  SELECT cell_id, vec_id, cos,
         row_number() OVER (PARTITION BY cell_id ORDER BY cos DESC, vec_id) AS r,
         count(*) OVER (PARTITION BY cell_id) AS n_members
  FROM best
)
SELECT cell_id, vec_id AS exemplar_id, round(cos, 6) AS cosine,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE r = 1
"""

QUERIES["e21_cell_exemplars"] = (e21_cell_exemplars, E21_ORACLE)


# --- E22: IVF probe-count tuning sweep (recall@k vs n_probe) ----------------------------

def e22_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning curve: recall@3 against the exact top-3 for n_probe
    in {1, 2, 4, 8} — ONE assignment (``_nearest_cell``) and ONE probe
    ranking (``_probe_cells`` at n_probe 8) feed all four settings (a
    setting is just a filter on the probe rank), so the sweep costs
    barely more than a single search. Recall is summed hits over summed
    truth (exact integer ppm); the truth count is a 1-row aggregate in
    the plan, and an empty query set fails loudly through the d12
    raise_error guard. The brute-force truth side is the audit harness's
    job, same status as e1/d10."""
    from peskas_timor_data_pipeline_spark.llm.similarity import (
        _nearest_cell,
        _probe_cells,
        _topk,
        cosine_expr,
        cosine_topk_bruteforce,
        ivf_centroids,
        norm_expr,
    )

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    candidates = emb.filter(F.col("vec_id") >= 50)

    truth = cosine_topk_bruteforce(
        queries, candidates, "vec_id", "embedding", k=3, dim=DIM
    ).select("query_id", "cand_id")

    cents = ivf_centroids(candidates, "vec_id", "embedding", 16, DIM)
    c = candidates.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cv"),
        norm_expr("embedding", DIM).alias("cn"),
    )
    inverted = _nearest_cell(c, "cand_id", "cv", "cn", cents, DIM).join(c, "cand_id")
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        norm_expr("embedding", DIM).alias("qn"),
    )
    probes = _probe_cells(q, "query_id", "qv", "qn", cents, DIM, 8).join(q, "query_id")
    scored = probes.join(inverted, "cell_id").withColumn(
        "cosine", cosine_expr("qv", "qn", "cv", "cn", DIM)
    )
    settings = spark.range(0, 4).select(
        F.expr("shiftleft(1, cast(id as int))").alias("n_probe")
    )
    per_setting = scored.join(
        F.broadcast(settings), F.col("probe_rank") <= F.col("n_probe")
    )
    approx = _topk(per_setting, ["n_probe", "query_id"], "cand_id", "cosine", 3, True).select(
        "n_probe", "query_id", "cand_id"
    )
    hits = approx.join(truth, ["query_id", "cand_id"]).groupBy("n_probe").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    # every query has exactly k=3 truth rows (the candidate pool is far
    # larger than k), so the truth count is 3 x the query count — NOT a
    # count of the truth frame, which would run the brute-force scoring
    # an extra time
    n_truth = queries.agg((3 * F.count(F.lit(1))).cast("long").alias("n_truth"))
    return (
        settings.join(hits, "n_probe", "left")
        .crossJoin(F.broadcast(n_truth))
        .select(
            "n_probe",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            "n_truth",
            F.when(F.col("n_truth") > 0, exact_ppm("coalesce(n_hits, 0)", "n_truth"))
            .otherwise(
                F.raise_error(F.lit("e22 probe sweep: empty query set (n_truth = 0)"))
            )
            .alias("recall_ppm"),
        )
        .orderBy("n_probe")
    )


# Memory shape (the r04 driver ran DuckDB in a window where this oracle's
# previous form OOM'd — passes at 100 MB and 500 MB, planner flips to a
# bad strategy at 200 MB): every 64-term dot product is computed exactly
# once into a slim MATERIALIZED CTE of scalar columns, so no window or
# join ever carries an embedding vector — norms are precomputed per
# vector, query-candidate cosines are shared by the truth ranking AND the
# probe scoring (the Spark impl reuses its rankings the same way), and
# the settings expansion ranks over (id, id, double) rows only.
# Arithmetic is term-for-term identical to the Spark side (same _dot_sql
# summation order, sqrt precomputed then multiplied).
E22_ORACLE = f"""
WITH nv AS MATERIALIZED (
  SELECT vec_id, embedding AS v,
         sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
  FROM embeddings WHERE vec_id < 20 OR vec_id >= 50
),
qc AS MATERIALIZED (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         ({_dot_sql('q.v', 'c.v')}) / (q.nrm * c.nrm) AS cosine
  FROM nv q, nv c WHERE q.vec_id < 20 AND c.vec_id >= 50
),
truth AS MATERIALIZED (
  SELECT query_id, cand_id FROM (
    SELECT query_id, cand_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, cand_id) AS rank
    FROM qc) WHERE rank <= 3
),
cents AS MATERIALIZED (
  SELECT vec_id AS cell_id, v AS cvec, nrm AS cnrm
  FROM nv WHERE vec_id >= 50
  ORDER BY md5('cent#' || CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
),
cellcos AS MATERIALIZED (
  SELECT e.vec_id, t.cell_id,
         ({_dot_sql('e.v', 't.cvec')}) / (e.nrm * t.cnrm) AS cosc
  FROM nv e CROSS JOIN cents t
),
asg AS MATERIALIZED (
  SELECT vec_id AS cand_id, cell_id FROM (
    SELECT vec_id, cell_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cosc DESC, cell_id) AS rn
    FROM cellcos WHERE vec_id >= 50) WHERE rn = 1
),
probes AS MATERIALIZED (
  SELECT vec_id AS query_id, cell_id, probe_rn FROM (
    SELECT vec_id, cell_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cosc DESC, cell_id) AS probe_rn
    FROM cellcos WHERE vec_id < 20) WHERE probe_rn <= 8
),
scored AS MATERIALIZED (
  SELECT p.query_id, a.cand_id, p.probe_rn, qc.cosine
  FROM probes p JOIN asg a USING (cell_id)
  JOIN qc ON qc.query_id = p.query_id AND qc.cand_id = a.cand_id
),
settings AS (SELECT unnest([1, 2, 4, 8]) AS n_probe),
hits AS (
  SELECT n_probe, count(*) AS n_hits FROM (
    SELECT s.n_probe, sc.query_id, sc.cand_id,
           row_number() OVER (PARTITION BY s.n_probe, sc.query_id
                              ORDER BY sc.cosine DESC, sc.cand_id) AS rank
    FROM scored sc JOIN settings s ON sc.probe_rn <= s.n_probe
  ) ranked JOIN truth USING (query_id, cand_id)
  WHERE rank <= 3 GROUP BY n_probe
),
nt AS (SELECT count(*) AS n FROM truth)
SELECT s.n_probe,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(nt.n AS BIGINT) AS n_truth,
       CAST(coalesce(h.n_hits, 0) * 1000000 // nt.n AS BIGINT) AS recall_ppm
FROM settings s CROSS JOIN nt LEFT JOIN hits h ON h.n_probe = s.n_probe
ORDER BY s.n_probe
"""

QUERIES["e22_ivf_probe_sweep"] = (e22_ivf_probe_sweep, E22_ORACLE)


# --- T30: corpus-pair similarity from union-MinHash signatures --------------------------

def t30_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated Jaccard between each pair of SOURCES' shingle-set unions,
    computed from signatures alone: the union MinHash of a source is the
    per-slot min over its documents' shingle hashes (one aggregation),
    and the slot-match fraction between two sources estimates their union
    Jaccard — corpus-level similarity with NO document pairs anywhere,
    the way you compare crawls/dumps at 100 TB. 16 slots make a coarse
    but fully deterministic estimator (md5 mins, engine-exact); match
    counts are exact integers. The signature is
    ``llm/dedup.py::minhash_signature`` with the source as its id: the
    min over a source's shingles is the min over its documents'."""
    from peskas_timor_data_pipeline_spark.llm.dedup import minhash_signature

    docs = load(spark, sf_dir, "documents").select("source", "text")
    # Size-gated lineage cut (r12): sigs is |sources| rows but its subtree
    # is the full corpus-scale shingle+md5 pass, and BOTH self-join
    # sides reference it. At cluster scale the cut halves the dominant
    # pass (duplicated subtrees don't share stages under AQE); at toy
    # scale the duplicates run as PARALLEL stages inside one job (wall
    # cost ~0) while an eager checkpoint would serialize the timeline —
    # measured +1.7 s at sf0.1 unconditional, so it engages on size only.
    from peskas_timor_data_pipeline_spark.llm.ckpt import materialize_gated

    sigs = materialize_gated(
        minhash_signature(docs, "source", "text", N_HASHES, K_SHINGLE)
    )
    a = sigs.select(
        F.col("source").alias("src_a"),
        *[F.col(f"h{j}").alias(f"a{j}") for j in range(N_HASHES)],
    )
    b = sigs.select(
        F.col("source").alias("src_b"),
        *[F.col(f"h{j}").alias(f"b{j}") for j in range(N_HASHES)],
    )
    matches = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        for j in range(N_HASHES)
    )
    return (
        a.crossJoin(b)
        .filter(F.col("src_a") < F.col("src_b"))
        .select(
            "src_a",
            "src_b",
            matches.cast("long").alias("n_matching_slots"),
            F.lit(N_HASHES).alias("n_slots"),
        )
    )


def _t30_sql() -> str:
    n_md5 = -(-N_HASHES * 8 // 32)
    digest = " || ".join(
        f"md5(sh || '#{j}')" for j in range(n_md5)
    )
    mins = ", ".join(
        f"min(substr(dig, {1 + 8 * j}, 8)) AS h{j}" for j in range(N_HASHES)
    )
    match = " + ".join(
        f"CASE WHEN a.h{j} = b.h{j} THEN 1 ELSE 0 END" for j in range(N_HASHES)
    )
    return f"""
WITH sh AS (
  SELECT source, substr(lower(text), CAST(i AS INTEGER), {K_SHINGLE}) AS sh
  FROM (SELECT source, text,
               unnest(generate_series(1, length(text) - {K_SHINGLE - 1})) AS i
        FROM documents WHERE length(text) >= {K_SHINGLE})
), digs AS (
  SELECT source, {digest} AS dig FROM sh
), sigs AS (
  SELECT source, {mins} FROM digs GROUP BY source
)
SELECT a.source AS src_a, b.source AS src_b,
       CAST({match} AS BIGINT) AS n_matching_slots,
       {N_HASHES} AS n_slots
FROM sigs a JOIN sigs b ON a.source < b.source
"""


QUERIES["t30_source_similarity"] = (t30_source_similarity, _t30_sql())


# --- T31: population-stability-index drift between corpus cohorts -----------------------

def t31_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI (population stability index) of the document-length
    distribution between two corpus cohorts (doc_id parity stands in for
    'yesterday's crawl vs today's') — the standard drift alarm before a
    training-mix change. Counts per decile-ish bucket are exact integers;
    each bucket's PSI term (pa - pb) * ln(pa / pb) is a handful of float
    ops off exact integer ratios, rounded per bucket — no order-dependent
    float sum is ever hashed (consumers fold the terms in bucket order).
    Laplace +1 smoothing keeps empty buckets finite, as in production PSI."""
    docs = load(spark, sf_dir, "documents")
    bucket = F.least(F.floor(F.length("text") / 100), F.lit(9)).cast("int")
    cohort = (F.col("doc_id") % 2 == 0)
    agg = docs.select(bucket.alias("bucket"), cohort.alias("is_a")).groupBy(
        "bucket"
    ).agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("ca"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).alias("cb"),
    )
    totals = agg.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    pa = (F.col("ca") + 1) / (F.col("na") + 10)
    pb = (F.col("cb") + 1) / (F.col("nb") + 10)
    return (
        agg.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.col("ca").cast("long").alias("ca"),
            F.col("cb").cast("long").alias("cb"),
            F.round((pa - pb) * F.log(pa / pb), 9).alias("psi_term"),
        )
        .orderBy("bucket")
    )


T31_ORACLE = """
WITH b AS (
  SELECT least(CAST(floor(length(text) / 100) AS BIGINT), 9) AS bucket,
         doc_id % 2 = 0 AS is_a
  FROM documents
), agg AS (
  SELECT bucket,
         sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS cb
  FROM b GROUP BY bucket
), t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM agg)
SELECT bucket,
       CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb,
       round(((ca + 1) / CAST(na + 10 AS DOUBLE) - (cb + 1) / CAST(nb + 10 AS DOUBLE))
             * ln(((ca + 1) / CAST(na + 10 AS DOUBLE))
                  / ((cb + 1) / CAST(nb + 10 AS DOUBLE))), 9) AS psi_term
FROM agg CROSS JOIN t
ORDER BY bucket
"""

QUERIES["t31_psi_drift"] = (t31_psi_drift, T31_ORACLE)


# --- E23: embedding-store health audit --------------------------------------------------

def _pow2_bucket_case(sq_sql: str, lo: int = -8, hi: int = 7) -> str:
    """floor(log2(sq)) for sq in [2^lo, 2^hi+1) as a pure comparison ladder
    — NO log call. Power-of-two thresholds are exact in both decimal text
    and IEEE double, and double comparison is bit-identical across engines,
    so the bucket id is environment-proof wherever the input expression is
    (the fixed-order dot fold is). floor(log2()) itself is NOT safe here:
    every store norm sits at 1.0 +/- 2e-7, exactly on the 2^0 boundary,
    where a one-ULP log2 implementation difference flips the floor. Values
    below 2^lo land in bucket lo-1 (an explicit "underflow" bucket).
    The same string is valid Spark SQL and DuckDB SQL."""
    branches = " ".join(
        f"WHEN ({sq_sql}) >= {2.0 ** k!r} THEN {k}" for k in range(hi, lo - 1, -1)
    )
    return f"CASE {branches} ELSE {lo - 1} END"


def e23_embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-indexing health audit of the embedding store: per label,
    counts of NULL vectors, wrong-dimension vectors, vectors containing
    NaN, all-zero vectors, and a coarse norm histogram over log2 buckets
    of the squared norm — integer bucket ids from an exact power-of-two
    comparison ladder (no float log, no float mean; see _pow2_bucket_case),
    reported as count/min/max/sum so the hashed output is integer-only.
    The audit every ANN build should run first: a handful of NaN or zero
    vectors silently poisons centroid training and cosine ranking.

    The r05 version hashed round(avg(log2(sq)), 6) — an order-dependent
    double reduction whose 6th decimal legitimately differs between
    Spark's partial-agg order and DuckDB's scan order. That class of
    output is now banned by tests/test_registry_contract.py."""
    from peskas_timor_data_pipeline_spark.llm.similarity import dot_expr

    emb = load(spark, sf_dir, "embeddings")
    # Project the 64-term dot fold ONCE: referencing it inside the
    # 17-branch bucket ladder would inline it per branch (a 16 MB
    # codegen'd task binary in the first cut of this query).
    pre = emb.select(
        "label",
        F.col("embedding").isNull().alias("is_null"),
        (F.col("embedding").isNotNull() & (F.size("embedding") != DIM)).alias(
            "wrong_dim"
        ),
        F.expr("exists(embedding, x -> isnan(x))").alias("has_nan"),
        dot_expr("embedding", "embedding", DIM).alias("sq"),
    )
    # NaN guard is belt-and-braces: both engines order NaN above every
    # double (so the ladder would agree anyway), but the bucket of a NaN
    # norm is meaningless and the cross-engine agreement is incidental.
    bucket = F.when(
        (F.col("sq") > 0) & ~F.col("has_nan"),
        F.expr(_pow2_bucket_case("sq")).cast("long"),
    )
    return (
        pre.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.when(F.col("is_null"), 1).otherwise(0))
            .cast("long").alias("n_null"),
            F.sum(F.when(F.col("wrong_dim"), 1).otherwise(0))
            .cast("long").alias("n_wrong_dim"),
            F.sum(F.when(F.col("has_nan"), 1).otherwise(0))
            .cast("long").alias("n_nan"),
            F.sum(F.when(~F.col("is_null") & (F.col("sq") == 0.0), 1).otherwise(0))
            .cast("long").alias("n_zero"),
            F.count(bucket).alias("n_norm"),
            F.min(bucket).alias("min_bucket"),
            F.max(bucket).alias("max_bucket"),
            F.sum(bucket).alias("sum_bucket"),
        )
        .orderBy("label")
    )


E23_ORACLE = f"""
WITH pre AS (
  SELECT label,
         embedding IS NULL AS is_null,
         embedding IS NOT NULL AND len(embedding) <> {{dim}} AS wrong_dim,
         len(list_filter(embedding, x -> isnan(x))) > 0 AS has_nan,
         ({{sq}}) AS sq
  FROM embeddings
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(CASE WHEN is_null THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(sum(CASE WHEN wrong_dim THEN 1 ELSE 0 END) AS BIGINT) AS n_wrong_dim,
       CAST(sum(CASE WHEN has_nan THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
       CAST(sum(CASE WHEN NOT is_null AND sq = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       CAST(count(CASE WHEN sq > 0 AND NOT has_nan THEN 1 END) AS BIGINT) AS n_norm,
       CAST(min(CASE WHEN sq > 0 AND NOT has_nan THEN ({{bucket}}) END) AS BIGINT) AS min_bucket,
       CAST(max(CASE WHEN sq > 0 AND NOT has_nan THEN ({{bucket}}) END) AS BIGINT) AS max_bucket,
       CAST(sum(CASE WHEN sq > 0 AND NOT has_nan THEN ({{bucket}}) END) AS BIGINT) AS sum_bucket
FROM pre
GROUP BY label
ORDER BY label
""".format(
    dim=DIM,
    sq=_dot_sql("embedding", "embedding"),
    bucket=_pow2_bucket_case("sq"),
)

QUERIES["e23_embedding_audit"] = (e23_embedding_audit, E23_ORACLE)


# --- D14: Bloom-filter decontamination (constant-memory membership) ---------------------

def d14_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership of eval texts (src0/src1 sources) against the
    train corpus (everything else), on the md5 content key — d6's exact
    decontamination at constant filter memory (4096 bits regardless of
    train size), with deterministic md5-replayable false positives
    (llm/dedup.py::bloom_decontaminate). Output: per-source verdict
    counts; eval docs that genuinely appear in train always flag."""
    from peskas_timor_data_pipeline_spark.llm.dedup import bloom_decontaminate

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(F.col("text")).alias("key")
    )
    train = docs.filter(~F.col("source").isin("src0", "src1"))
    eval_df = docs.filter(F.col("source").isin("src0", "src1"))
    flagged = bloom_decontaminate(train, eval_df, "key", k_hashes=3, n_bits=4096)
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_eval"),
        F.sum(F.when(F.col("maybe_in_train"), 1).otherwise(0))
        .cast("long")
        .alias("n_flagged"),
    )


D14_ORACLE = """
WITH docs AS (
  SELECT doc_id, source, md5(text) AS key FROM documents
), train_bits AS (
  SELECT DISTINCT bit_idx FROM (
    SELECT unnest([
      ('0x' || substr(md5(key || '#b0'), 1, 12))::BIGINT % 4096,
      ('0x' || substr(md5(key || '#b1'), 1, 12))::BIGINT % 4096,
      ('0x' || substr(md5(key || '#b2'), 1, 12))::BIGINT % 4096
    ]) AS bit_idx
    FROM docs WHERE source NOT IN ('src0', 'src1')
  )
), eval_bits AS (
  SELECT doc_id, source, key, unnest([
      ('0x' || substr(md5(key || '#b0'), 1, 12))::BIGINT % 4096,
      ('0x' || substr(md5(key || '#b1'), 1, 12))::BIGINT % 4096,
      ('0x' || substr(md5(key || '#b2'), 1, 12))::BIGINT % 4096
    ]) AS bit_idx
  FROM docs WHERE source IN ('src0', 'src1')
), per_key AS (
  SELECT e.doc_id, e.source,
         count(DISTINCT e.bit_idx) AS n_distinct_bits,
         count(DISTINCT CASE WHEN t.bit_idx IS NOT NULL THEN e.bit_idx END) AS n_hits
  FROM eval_bits e LEFT JOIN train_bits t ON t.bit_idx = e.bit_idx
  GROUP BY e.doc_id, e.source
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_eval,
       CAST(sum(CASE WHEN n_hits = n_distinct_bits THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
FROM per_key GROUP BY source
"""

QUERIES["d14_bloom_decontaminate"] = (d14_bloom_decontaminate, D14_ORACLE)


# --- MM13: audio clipping / saturation detector -----------------------------------------

def mm13_audio_clipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Saturation QA through real WAV bytes: synthesize hot signals
    (amplitude x300, hard-clipped to int16 rails), decode, and count
    samples at or beyond 32700 counts (llm/multimodal.py::
    audio_clipping_stats). The oracle recomputes the counts from the
    generating formula, so a decode or scaling bug breaks the hash."""
    import numpy as np

    from peskas_timor_data_pipeline_spark.llm.multimodal import (
        audio_clipping_stats,
        encode_wav,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(did: int) -> bytes:
        raw = ((did + np.arange((did % 50 + 1) * 80)) % 256 - 128) * 300
        return encode_wav(
            np.clip(raw, -32768, 32767).astype("<i2"), sample_rate=8000
        )

    media = _synth_media(docs, make)
    return audio_clipping_stats(media, "doc_id", threshold=32700)


MM13_ORACLE = """
WITH dims AS (
  SELECT doc_id, (doc_id % 50 + 1) * 80 AS n FROM documents
), counted AS (
  SELECT doc_id, n,
         CAST(list_sum(list_transform(generate_series(0, CAST(n - 1 AS INTEGER)), i ->
           CASE WHEN abs(least(greatest(((doc_id + i) % 256 - 128) * 300, -32768), 32767)) >= 32700
                THEN 1 ELSE 0 END)) AS BIGINT) AS n_clipped
  FROM dims
)
SELECT doc_id, CAST(n AS BIGINT) AS n_samples, n_clipped,
       CAST(n_clipped * 1000000 // n AS BIGINT) AS clipped_ppm
FROM counted
"""

QUERIES["mm13_audio_clipping"] = (mm13_audio_clipping, MM13_ORACLE)


# --- MM14: REAL PNG decode (pure-Python zlib+unfilter codec) ----------------------------

def mm14_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL decode of the most common real-world container
    (VERDICT r10 ask #2): synthesize a deterministic image per document —
    width = doc_id%11+1, height = doc_id%5+1, grayscale when doc_id%3==0
    else RGB, pixel(y,x,c) = (doc_id+x+y+c)%256 — encode it as a REAL
    PNG (stdlib zlib deflate, scanline filter cycling 0-4 by row so
    every unfilter branch executes), then recover width/height/channels/
    mean pixel FROM THE BYTES with the pure-Python PNG decoder
    (llm/multimodal.py::_decode_png: chunk walk + CRC verify + inflate +
    Sub/Up/Average/Paeth unfilter). The oracle recomputes the expected
    values from the generating formula, so a chunk-parse, inflate
    framing, or filter-math bug breaks the hash. Same attachments model
    as mm3 (reference R/pt_nest_attachments.R:40-72); no Pillow anywhere
    on this path."""
    import numpy as np

    from peskas_timor_data_pipeline_spark.llm.multimodal import (
        decode_image_meta,
        encode_png,
    )

    # spread the per-image Python codec work (see mm15)
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def make(did: int) -> bytes:
        w, h = did % 11 + 1, did % 5 + 1
        ch = 1 if did % 3 == 0 else 3
        y, x, c = np.indices((h, w, ch))
        px = ((did + x + y + c) % 256).astype(np.uint8)
        return encode_png(px, filter_type="cycle")

    media = _synth_media(docs, make)
    meta = decode_image_meta(media, "doc_id")
    return meta.select(
        "doc_id", "width", "height", "channels",
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )


MM14_ORACLE = """
WITH dims AS (
  SELECT doc_id, doc_id % 11 + 1 AS w, doc_id % 5 + 1 AS h,
         CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END AS ch
  FROM documents
), flat AS (
  SELECT doc_id, w, h, ch, unnest(generate_series(0, w * h * ch - 1)) AS t
  FROM dims
)
SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(ch AS INTEGER) AS channels,
       round(avg(CAST((doc_id + (t % (w * ch)) // ch + t // (w * ch) + t % ch) % 256
                      AS DOUBLE)), 6) AS mean_pixel
FROM flat GROUP BY doc_id, w, h, ch
"""

QUERIES["mm14_png_decode"] = (mm14_png_decode, MM14_ORACLE)


# --- MM15: REAL baseline JPEG decode (pure-Python T.81 codec) ---------------------------

def mm15_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL decode of the dominant lossy container: per
    document synthesize a deterministic photo-like image — width =
    doc_id%12+5, height = doc_id%6+5, grayscale when doc_id%2==0 else
    RGB, pixel(y,x,c) = (doc_id*7 + x*3 + y*5 + c*11) % 251 — encode it
    as a REAL baseline JFIF (llm/jpeg_codec.py: DCT, Annex-K tables,
    Huffman, 4:4:4; restart markers every 2 MCUs when doc_id%5==0),
    then recover the geometry FROM THE BYTES with the pure-Python
    decoder and check the decoded mean pixel against the generating
    formula's exact mean within the quantization tolerance. JPEG is
    lossy, so width/height/channels hash exactly and the mean rides a
    boundedness flag the oracle predicts from the construction (same
    attachments model as mm3, R/pt_nest_attachments.R:40-72)."""
    import numpy as np

    from peskas_timor_data_pipeline_spark.llm.jpeg_codec import encode_jpeg
    from peskas_timor_data_pipeline_spark.llm.multimodal import (
        decode_image_meta,
    )

    # the parquet fixture arrives as ONE partition at sf0.1 — spread the
    # per-image Python codec work across the executor cores (at corpus
    # scale the input is already many-partitioned; this mirrors that)
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def make(did: int) -> bytes:
        w, h = did % 12 + 5, did % 6 + 5
        ch = 1 if did % 2 == 0 else 3
        y, x, c = np.indices((h, w, ch))
        px = ((did * 7 + x * 3 + y * 5 + c * 11) % 251).astype(np.uint8)
        ri = 2 if did % 5 == 0 else 0
        return encode_jpeg(
            px, quality=90, subsampling="4:4:4", restart_interval=ri
        )

    media = _synth_media(docs, make)
    meta = decode_image_meta(media, "doc_id")
    # exact source mean from the generating formula, computed JVM-side:
    # mean over t in [0, w*h*ch) of (doc_id*7 + (t % (w*ch)) div ch * 3
    # + t div (w*ch) * 5 + t % ch * 11) % 251 — all-integer per element,
    # summed in doubles (bounded by 255 * 612 elements: exact)
    src_mean = F.expr(
        "aggregate(sequence(0, int((doc_id % 12 + 5) * (doc_id % 6 + 5) "
        "* (case when doc_id % 2 = 0 then 1 else 3 end)) - 1), 0.0D, "
        "(acc, t) -> acc + double((doc_id * 7 "
        "+ (t % ((doc_id % 12 + 5) * (case when doc_id % 2 = 0 then 1 else 3 end))) "
        "div (case when doc_id % 2 = 0 then 1 else 3 end) * 3 "
        "+ t div ((doc_id % 12 + 5) * (case when doc_id % 2 = 0 then 1 else 3 end)) * 5 "
        "+ t % (case when doc_id % 2 = 0 then 1 else 3 end) * 11) % 251)) "
        "/ ((doc_id % 12 + 5) * (doc_id % 6 + 5) "
        "* (case when doc_id % 2 = 0 then 1 else 3 end))"
    )
    return meta.select(
        "doc_id",
        "width",
        "height",
        "channels",
        (F.abs(F.col("mean_pixel") - src_mean) < 6.0).alias("mean_within_tol"),
    )


MM15_ORACLE = """
SELECT doc_id,
       CAST(doc_id % 12 + 5 AS INTEGER) AS width,
       CAST(doc_id % 6 + 5 AS INTEGER) AS height,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS INTEGER) AS channels,
       TRUE AS mean_within_tol
FROM documents
"""

QUERIES["mm15_jpeg_decode"] = (mm15_jpeg_decode, MM15_ORACLE)


# --- T36: tokenizer fertility / compression ratio per language --------------------------

def t36_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fertility report per language tag: whitespace tokens vs characters
    vs BPE-ish subword pieces (the t23 regex segmentation) — the
    chars-per-token and pieces-per-word ratios that decide whether a
    tokenizer is paying for itself on a corpus slice. All counts are
    exact integers from two narrow projections; ratios are exact integer
    ppm (d7 convention) — nothing floats."""
    docs = load(spark, sf_dir, "documents")
    words = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != ""
        )
    ).cast("long")
    # BPE-ish piece segmentation: alpha runs, digit runs, single others
    pieces = F.size(
        F.expr(r"regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)")
    ).cast("long")
    agg = (
        docs.select(
            "lang",
            F.length("text").cast("long").alias("n_chars"),
            words.alias("n_words"),
            pieces.alias("n_pieces"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_pieces").alias("n_pieces"),
        )
    )
    return agg.select(
        "lang", "n_docs", "n_chars", "n_words", "n_pieces",
        exact_ppm("n_chars", "n_pieces").alias("chars_per_piece_ppm"),
        exact_ppm("n_pieces", "n_words").alias("pieces_per_word_ppm"),
    ).orderBy("lang")


T36_ORACLE = r"""
WITH per_doc AS (
  SELECT lang,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                              t -> t <> '')) AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
              AS BIGINT) AS n_pieces
  FROM documents
), agg AS (
  SELECT lang, count(*) AS n_docs, sum(n_chars) AS n_chars,
         sum(n_words) AS n_words, sum(n_pieces) AS n_pieces
  FROM per_doc GROUP BY lang
)
SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_pieces AS BIGINT) AS n_pieces,
       CAST(n_chars * 1000000 // n_pieces AS BIGINT) AS chars_per_piece_ppm,
       CAST(n_pieces * 1000000 // n_words AS BIGINT) AS pieces_per_word_ppm
FROM agg ORDER BY lang
"""

QUERIES["t36_tokenizer_fertility"] = (t36_tokenizer_fertility, T36_ORACLE)


# --- D15: LSH duplication-rate scout ----------------------------------------------------

def d15_dup_rate_scout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-rate scouting from band-bucket statistics ALONE: the
    d2 MinHash bands' bucket sizes give the candidate-pair mass
    (sum of C(s,2) per bucket) and the distinct-candidate count, without
    ever running the Jaccard verification — the cheap first look that
    decides whether a full dedup pass is worth scheduling on a new crawl
    slice. All outputs are exact integers."""
    from peskas_timor_data_pipeline_spark.llm.ckpt import materialize
    from peskas_timor_data_pipeline_spark.llm.dedup import (
        band_rows,
        lsh_candidate_pairs,
        minhash_signature,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # materialized (r11): the signatures feed BOTH the bucket-mass rollup
    # and the candidate-pair count below — unmaterialized, the minhash
    # (shingle explode + 16-slot aggregate, the scout's dominant cost)
    # ran twice per invocation
    sigs = materialize(
        minhash_signature(docs, "doc_id", "text", N_HASHES, K_SHINGLE)
    )
    bucket_mass = (
        band_rows(sigs, "doc_id", N_HASHES, BAND_SIZE)
        .groupBy("band_key")
        .agg(F.count(F.lit(1)).alias("s"))
        .agg(
            F.sum(F.expr("s * (s - 1) div 2")).alias("candidate_pair_mass"),
            F.sum(F.when(F.col("s") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_colliding_buckets"),
        )
    )
    # Counts folded into the action plan (r12, guide §1.2 / the g2
    # pattern): the doc count and the candidate-pair count become 1-row
    # aggregate subtrees cross-joined onto the bucket-mass row, so the
    # scout is ONE job instead of one job per driver-side .count(). The
    # ppm division moves in-plan as exact long arithmetic (exact_ppm
    # divides first, so no intermediate product can overflow — identical
    # values to the old Python floor division). An empty corpus has no
    # rate: it fails loudly through the d12 raise_error guard instead of
    # dividing by 0.
    n_docs_df = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    n_pairs_df = lsh_candidate_pairs(sigs, "doc_id", N_HASHES, BAND_SIZE).agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_candidates")
    )
    return (
        bucket_mass.crossJoin(F.broadcast(n_docs_df))
        .crossJoin(F.broadcast(n_pairs_df))
        .select(
            "n_docs",
            "candidate_pair_mass",
            "n_colliding_buckets",
            "n_distinct_candidates",
            F.when(
                F.col("n_docs") > 0,
                exact_ppm("n_distinct_candidates", "n_docs"),
            )
            .otherwise(
                F.raise_error(F.lit("d15 duplication rate: empty corpus (n_docs = 0)"))
            )
            .alias("candidates_per_doc_ppm"),
        )
    )


def _d15_sql() -> str:
    n_md5 = -(-N_HASHES * 8 // 32)
    digest = " || ".join(f"md5(sh || '#{j}')" for j in range(n_md5))
    mins = ", ".join(
        f"min(substr(dig, {1 + 8 * j}, 8)) AS h{j}" for j in range(N_HASHES)
    )
    n_bands = N_HASHES // BAND_SIZE
    band_exprs = ", ".join(
        "md5(concat_ws('|', '{b}', {cols})) AS band{b}".format(
            b=b,
            cols=", ".join(f"h{b * BAND_SIZE + i}" for i in range(BAND_SIZE)),
        )
        for b in range(n_bands)
    )
    band_list = ", ".join(f"band{b}" for b in range(n_bands))
    return f"""
WITH sh AS (
  SELECT doc_id, substr(lower(text), CAST(i AS INTEGER), {K_SHINGLE}) AS sh
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, length(text) - {K_SHINGLE - 1})) AS i
        FROM documents WHERE length(text) >= {K_SHINGLE})
), digs AS (SELECT doc_id, {digest} AS dig FROM sh),
sigs AS (SELECT doc_id, {mins} FROM digs GROUP BY doc_id),
banded AS (SELECT doc_id, {band_exprs} FROM sigs),
long AS (
  SELECT doc_id, unnest([{band_list}]) AS band_key FROM banded
), buckets AS (
  SELECT band_key, count(*) AS s FROM long GROUP BY band_key
), mass AS (
  SELECT CAST(sum(s * (s - 1) // 2) AS BIGINT) AS candidate_pair_mass,
         CAST(sum(CASE WHEN s > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_colliding_buckets
  FROM buckets
), pairs AS (
  SELECT count(*) AS n FROM (
    SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
    FROM long a JOIN long b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
  )
), nd AS (SELECT count(*) AS n FROM documents)
SELECT CAST(nd.n AS BIGINT) AS n_docs,
       mass.candidate_pair_mass,
       mass.n_colliding_buckets,
       CAST(pairs.n AS BIGINT) AS n_distinct_candidates,
       CAST(pairs.n * 1000000 // nd.n AS BIGINT) AS candidates_per_doc_ppm
FROM mass, pairs, nd
"""


QUERIES["d15_dup_rate_scout"] = (d15_dup_rate_scout, _d15_sql())
QUERIES["d2b_lsh_skew_capped"] = (d2b_lsh_skew_capped, D2B_ORACLE)

QUERIES["t37_repetition_signals"] = (t37_repetition_signals, T37_ORACLE)


# --- D16: exact-substring dedup spans (Lee et al. 2021 masking primitive) --------------

def d16_repeated_span_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-repeated >=50-char span extraction
    (llm/dedup.py::repeated_span_mask): every 1-in-7 doc gets a planted
    twin carrying a verbatim 120-char excerpt (positions 50..169), so the
    sweep must recover exactly that merged span in the original — plus
    whatever the word-salad corpus shares naturally. Output is span-level
    integer aggregates per doc (count, masked chars, position checksum);
    the text SPLICING path (apply_span_mask) is pinned by a hand fixture
    in pytest. ASCII projection first, as everywhere gram-shaped."""
    from peskas_timor_data_pipeline_spark.llm.dedup import repeated_span_mask

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.regexp_replace(F.col("text"), "[^\\x20-\\x7E]", "").alias("text")
    )
    planted = docs.filter(
        (F.col("doc_id") % 7 == 0) & (F.length("text") >= 170)
    ).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(
            F.lit("zzz "), F.substring("text", 50, 120), F.lit(" qqq")
        ).alias("text"),
    )
    corpus = docs.unionByName(planted)
    spans = repeated_span_mask(corpus, "doc_id", "text", k_min=50)
    agg = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("masked_chars"),
        F.sum(
            F.col("span_start") * F.lit(100003) + F.col("span_end")
        ).alias("span_checksum"),
    )
    return (
        corpus.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("masked_chars", F.lit(0)).cast("long").alias("masked_chars"),
            F.coalesce("span_checksum", F.lit(0)).cast("long").alias("span_checksum"),
        )
    )


D16_ORACLE = r"""
WITH norm AS (
  SELECT doc_id, regexp_replace(text, '[^\x20-\x7e]', '', 'g') AS t FROM documents
),
corpus AS (
  SELECT doc_id, t FROM norm
  UNION ALL
  SELECT doc_id + 2000000, 'zzz ' || substr(t, 50, 120) || ' qqq'
  FROM norm WHERE doc_id % 7 = 0 AND length(t) >= 170
),
grams AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         ('0x' || substr(md5(substr(lower(t), CAST(i AS INTEGER), 50)), 1, 15))::BIGINT AS gh
  FROM (SELECT doc_id, t, unnest(generate_series(1, length(t) - 49)) AS i
        FROM corpus WHERE length(t) >= 50)
),
gd AS (
  SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM grams)
  GROUP BY gh HAVING count(*) > 1
),
seeds AS (
  SELECT g.doc_id, g.pos AS s, g.pos + 49 AS e
  FROM grams g JOIN gd USING (gh)
),
flagged AS (
  SELECT doc_id, s, e,
         CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
              OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
              THEN 1 ELSE 0 END AS nw
  FROM seeds
),
isl AS (
  SELECT doc_id, s, e,
         sum(nw) OVER (PARTITION BY doc_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
),
spans AS (
  SELECT doc_id, min(s) AS ss, max(e) AS se FROM isl GROUP BY doc_id, island
),
agg AS (
  SELECT doc_id, count(*) AS n_spans, sum(se - ss + 1) AS masked_chars,
         sum(ss * 100003 + se) AS span_checksum
  FROM spans GROUP BY doc_id
)
SELECT c.doc_id,
       CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(a.masked_chars, 0) AS BIGINT) AS masked_chars,
       CAST(coalesce(a.span_checksum, 0) AS BIGINT) AS span_checksum
FROM corpus c LEFT JOIN agg a USING (doc_id)
"""

QUERIES["d16_repeated_span_mask"] = (d16_repeated_span_mask, D16_ORACLE)


def d5b_dup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d5's exact cluster contract computed by the OTHER components
    algorithm — alternating large-star/small-star contraction
    (llm/cluster.py::connected_components_star, Kiveris et al. 2014).
    Same oracle as d5: both implementations must produce identical
    min-labeled components, hash-checked independently."""
    from peskas_timor_data_pipeline_spark.llm.cluster import (
        connected_components_star,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = minhash_signature(docs, "doc_id", "text", N_HASHES, K_SHINGLE)
    pairs = lsh_candidate_pairs(sigs, "doc_id", N_HASHES, BAND_SIZE)
    comp = connected_components_star(pairs)
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


QUERIES["d5b_dup_clusters_star"] = (d5b_dup_clusters_star, D5_ORACLE)


# --- T38: Kneser-Ney bigram LM quality scoring -----------------------------------------

def t38_kneser_ney_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean interpolated Kneser-Ney bigram log-probability
    (llm/text.py::kneser_ney_logprob) — the CCNet-perplexity-filter
    analogue: backoff mass follows continuation counts, not raw
    frequency, so frequent-but-context-bound words stop inflating
    word-salad scores."""
    from peskas_timor_data_pipeline_spark.llm.text import kneser_ney_logprob

    docs = load(spark, sf_dir, "documents")
    return kneser_ney_logprob(docs, "doc_id", "text", discount=0.75)


T38_ORACLE = """
WITH prepped AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '[^a-z0-9]+') AS arr
  FROM documents
), positions AS (
  SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS pos FROM prepped
), toks AS (
  SELECT doc_id, pos, arr[pos] AS token FROM positions WHERE arr[pos] <> ''
), bg AS MATERIALIZED (
  SELECT doc_id, token,
         lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM toks
), bi AS MATERIALIZED (
  SELECT prev, token, count(*) AS c_bg FROM bg WHERE prev IS NOT NULL
  GROUP BY prev, token
), ctx AS (
  SELECT prev, sum(c_bg) AS c_prev, count(*) AS n_follow FROM bi GROUP BY prev
), cont AS (
  SELECT token, count(*) AS n_prec FROM bi GROUP BY token
), nbb AS (SELECT count(*) AS n_bb FROM bi)
SELECT b.doc_id,
       count(*) AS n_bigrams,
       round(avg(ln(
         greatest(bi.c_bg - 0.75::DOUBLE, 0.0::DOUBLE) / ctx.c_prev
         + 0.75::DOUBLE * ctx.n_follow / ctx.c_prev * cont.n_prec / t.n_bb
       )), 6) AS mean_logp_kn
FROM bg b
JOIN bi ON b.prev = bi.prev AND b.token = bi.token
JOIN ctx ON ctx.prev = b.prev
JOIN cont ON cont.token = b.token
CROSS JOIN nbb t
WHERE b.prev IS NOT NULL
GROUP BY b.doc_id
"""

QUERIES["t38_kneser_ney_logprob"] = (t38_kneser_ney_logprob, T38_ORACLE)


# --- T39: temperature-based source-mixture weights -------------------------------------

def t39_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights at temperature tau=2
    (llm/text.py::temperature_mixture_weights) — the multilingual-LM
    upsampling scheme: small sources gain share proportionally to
    sqrt(tokens), dominant ones shrink. alpha is pinned to 1/2 because
    sqrt is correctly rounded by IEEE-754 in both engines."""
    from peskas_timor_data_pipeline_spark.llm.text import (
        temperature_mixture_weights,
    )

    docs = load(spark, sf_dir, "documents")
    return temperature_mixture_weights(docs, "source", "text")


T39_ORACLE = """
WITH toks AS (
  SELECT source, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
  FROM documents
), per_src AS MATERIALIZED (
  SELECT source, count(*) AS n_tokens FROM toks WHERE tok <> '' GROUP BY source
), totals AS (
  SELECT sum(n_tokens) AS t_all, sum(sqrt(n_tokens::DOUBLE)) AS t_sqrt
  FROM per_src
)
SELECT source,
       n_tokens,
       CAST(round(1000000.0::DOUBLE * n_tokens / t_all) AS BIGINT)
         AS natural_ppm,
       CAST(round(1000000.0::DOUBLE * sqrt(n_tokens::DOUBLE) / t_sqrt)
            AS BIGINT) AS temperature_ppm,
       CAST(round(1000.0::DOUBLE
                  * (sqrt(n_tokens::DOUBLE) / t_sqrt)
                  / (n_tokens / t_all)) AS BIGINT) AS boost_milli
FROM per_src CROSS JOIN totals
"""

QUERIES["t39_temperature_mixture"] = (t39_temperature_mixture, T39_ORACLE)


# --- E24: IVF-PQ residual ANN (the FAISS IVFADC composition) ---------------------------

def e24_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with residual encoding + per-probed-cell ADC tables
    (llm/similarity.py::ivfpq_adc_topk) — coarse cells route, PQ encodes
    the residual to the cell centroid, queries scan only probed cells'
    inverted lists via m_sub array reads per candidate. The oracle
    replays the full chain: seeded centroids, L2 assignment, seeded
    residual codebook, all 8 subvector argmins, probe selection, and the
    table-lookup distance sum."""
    from peskas_timor_data_pipeline_spark.llm.similarity import ivfpq_adc_topk

    emb = load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 50)
    cands = emb.filter(F.col("vec_id") >= 50)
    return ivfpq_adc_topk(
        qs, cands, "vec_id", "embedding",
        dim=DIM, m_sub=8, k_cb=16, n_cells=16, n_probe=4, k_top=3,
    )


def _e24_sql() -> str:
    m_sub, sub, k_cb, n_probe = 8, DIM // 8, 16, 4

    def l2_full(a: str, b: str) -> str:
        return " + ".join(
            f"(CAST({a}[{j}] AS DOUBLE) - CAST({b}[{j}] AS DOUBLE))"
            f" * (CAST({a}[{j}] AS DOUBLE) - CAST({b}[{j}] AS DOUBLE))"
            for j in range(1, DIM + 1)
        )

    rvec_list = ", ".join(
        f"CAST(a.embedding[{j}] AS DOUBLE) - CAST(a.cvec[{j}] AS DOUBLE)"
        for j in range(1, DIM + 1)
    )

    def res_dist_block(vec: str, cvec: str, prefix: str) -> str:
        # sum_j ((v[j] - cell_c[j]) - rvec[j])^2 per subvector, identical
        # association order to the engine's generated expressions
        return ", ".join(
            " + ".join(
                f"(CAST({vec}[{j}] AS DOUBLE) - CAST({cvec}[{j}] AS DOUBLE)"
                f" - r.rvec[{j}])"
                f" * (CAST({vec}[{j}] AS DOUBLE) - CAST({cvec}[{j}] AS DOUBLE)"
                f" - r.rvec[{j}])"
                for j in range(m * sub + 1, (m + 1) * sub + 1)
            )
            + f" AS {prefix}{m}"
            for m in range(m_sub)
        )

    # Long-form ADC, same restructure as _e8_sql (r09): unpivot the codes
    # and the per-probe distance tables to (m, cid) rows so the ADC is ONE
    # hash join instead of eight — the 8-join DAG's pinned block minimums
    # were the e8-class driver-OOM pattern.  Fixed summation order is kept
    # by 8 single-element conditional sums added left-associated.
    d_case = " ".join(f"WHEN {m} THEN d{m}" for m in range(m_sub))
    qd_case = " ".join(f"WHEN {m} THEN qd{m}" for m in range(m_sub))
    dist_sum = " + ".join(
        f"sum(CASE WHEN x.m = {m} THEN t.qd END)" for m in range(m_sub)
    )
    return f"""
WITH cents AS MATERIALIZED (
  SELECT vec_id AS cell_id, embedding AS cvec
  FROM embeddings WHERE vec_id >= 50
  ORDER BY md5('cent#' || CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
), assign AS MATERIALIZED (
  SELECT cand_id, cell_id, cvec, embedding FROM (
    SELECT e.vec_id AS cand_id, c.cell_id, c.cvec, e.embedding,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY ({l2_full('e.embedding', 'c.cvec')}), c.cell_id
           ) AS rn
    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id >= 50
  ) WHERE rn = 1
), rcb AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY o, cand_id) AS cid, rvec FROM (
    SELECT a.cand_id, md5('pqr#' || CAST(a.cand_id AS VARCHAR)) AS o,
           [{rvec_list}] AS rvec
    FROM assign a
    ORDER BY o, a.cand_id LIMIT {k_cb}
  )
), subs AS (
  SELECT unnest(range({m_sub})) AS m
), encp AS (
  SELECT a.cand_id, a.cell_id, r.cid,
         {res_dist_block('a.embedding', 'a.cvec', 'd')}
  FROM assign a CROSS JOIN rcb r
), codes_long AS MATERIALIZED (
  SELECT cand_id, m, any_value(cell_id) AS cell_id,
         struct_extract(min(struct_pack(d := d, cid := cid)), 'cid') AS cid
  FROM (SELECT cand_id, cell_id, cid, u.m, CASE u.m {d_case} END AS d
        FROM encp CROSS JOIN subs u)
  GROUP BY cand_id, m
), probes AS MATERIALIZED (
  SELECT query_id, cell_id, cvec, qv FROM (
    SELECT q.vec_id AS query_id, c.cell_id, c.cvec, q.embedding AS qv,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY ({l2_full('q.embedding', 'c.cvec')}), c.cell_id
           ) AS rn
    FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < 50
  ) WHERE rn <= {n_probe}
), dtab_wide AS (
  SELECT p.query_id, p.cell_id, r.cid,
         {res_dist_block('p.qv', 'p.cvec', 'qd')}
  FROM probes p CROSS JOIN rcb r
), dtab AS MATERIALIZED (
  SELECT query_id, cell_id, cid, u.m, CASE u.m {qd_case} END AS qd
  FROM dtab_wide CROSS JOIN subs u
), adc AS (
  SELECT t.query_id, x.cand_id, {dist_sum} AS dist
  FROM codes_long x
  JOIN dtab t ON t.cell_id = x.cell_id AND t.m = x.m AND t.cid = x.cid
  GROUP BY t.query_id, x.cand_id
)
SELECT query_id, cand_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, cand_id) AS INTEGER) AS rank,
       round(dist, 6) AS adc_dist
FROM adc
QUALIFY rank <= 3
"""


QUERIES["e24_ivfpq_topk"] = (e24_ivfpq_topk, _e24_sql())


# --- E25: Matryoshka funnel retrieval (coarse scan -> full-dim rerank) -----------------

def e25_mrl_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive retrieval over Matryoshka embeddings
    (llm/similarity.py::mrl_funnel_topk): scan at dim 16, shortlist 20
    per query, rerank the shortlist at dim 64 — full-precision distances
    are paid on 20 rows per query instead of the corpus. e16 measures
    the truncation loss; this is the serving path that buys it back."""
    from peskas_timor_data_pipeline_spark.llm.similarity import mrl_funnel_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    candidates = emb.filter(F.col("vec_id") >= 20)
    return mrl_funnel_topk(
        queries, candidates, "vec_id", "embedding",
        k_top=3, m_shortlist=20, dim_coarse=16, dim=DIM,
    )


E25_ORACLE = f"""
WITH q AS MATERIALIZED (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20
), c AS MATERIALIZED (
  SELECT vec_id AS cand_id, embedding AS cv FROM embeddings WHERE vec_id >= 20
), coarse AS MATERIALIZED (
  SELECT query_id, cand_id FROM (
    SELECT q.query_id, c.cand_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY ({_dot16('qv', 'cv')})
                      / (sqrt({_dot16('qv', 'qv')}) * sqrt({_dot16('cv', 'cv')}))
                      DESC, c.cand_id
           ) AS rn
    FROM q CROSS JOIN c
  ) WHERE rn <= 20
), rer AS (
  SELECT s.query_id, s.cand_id,
         ({_dot_sql('q.qv', 'c.cv')})
         / (sqrt({_dot_sql('q.qv', 'q.qv')}) * sqrt({_dot_sql('c.cv', 'c.cv')}))
           AS cosine
  FROM coarse s
  JOIN q ON q.query_id = s.query_id
  JOIN c ON c.cand_id = s.cand_id
)
SELECT query_id, cand_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id) AS INTEGER) AS rank,
       round(cosine, 6) AS cosine
FROM rer
QUALIFY rank <= 3
"""

QUERIES["e25_mrl_funnel"] = (e25_mrl_funnel, E25_ORACLE)


# --- D17: LSH band-config planner (expected recall per band division) ------------------

def d17_band_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every (n_bands, band_size) division of the 16-hash signature,
    the expected candidate recall over the corpus's OWN verified
    near-dup pairs (llm/dedup.py::lsh_band_recall): P(caught at
    similarity s) = 1 - (1 - s^r)^b, evaluated as the same
    binary-squaring tree in both engines. d15 scouts the COST of a band
    config (candidate mass); this tables the RECALL side of the trade."""
    from peskas_timor_data_pipeline_spark.llm.dedup import lsh_band_recall

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = minhash_signature(docs, "doc_id", "text", N_HASHES, K_SHINGLE)
    pairs = lsh_candidate_pairs(sigs, "doc_id", N_HASHES, BAND_SIZE)
    verified = ngram_jaccard(docs, pairs, "doc_id", "text", K_SHINGLE).filter(
        F.col("jaccard") >= 0.5
    )
    return lsh_band_recall(verified, "jaccard", n_hashes=N_HASHES)


def _d17_sql() -> str:
    # binary-squaring expression trees, textually identical association
    # to the engine's Column trees
    sp = {1: "s"}
    e = 2
    while e <= N_HASHES:
        sp[e] = f"({sp[e // 2]} * {sp[e // 2]})"
        e *= 2
    selects = []
    b = 1
    while b <= N_HASHES:
        r = N_HASHES // b
        t = {1: f"(1.0::DOUBLE - {sp[r]})"}
        e = 2
        while e <= b:
            t[e] = f"({t[e // 2]} * {t[e // 2]})"
            e *= 2
        selects.append(
            f"SELECT CAST({b} AS INTEGER) AS n_bands,"
            f" CAST({r} AS INTEGER) AS band_size, n_pairs,"
            f" p_{b}_{r} AS expected_recall FROM a"
        )
        b *= 2
    avgs = []
    b = 1
    while b <= N_HASHES:
        r = N_HASHES // b
        t = {1: f"(1.0::DOUBLE - {sp[r]})"}
        e = 2
        while e <= b:
            t[e] = f"({t[e // 2]} * {t[e // 2]})"
            e *= 2
        avgs.append(f"round(avg(1.0::DOUBLE - {t[b]}), 6) AS p_{b}_{r}")
        b *= 2
    union = "\nUNION ALL ".join(selects)
    return f"""
WITH {_SHINGLE_CTE},
sig AS (SELECT doc_id, {_SIG_COLS} FROM shd GROUP BY doc_id),
long AS (SELECT doc_id, unnest([{_BAND_LIST}]) AS band_key FROM sig),
pairs AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM long a JOIN long b USING (band_key)
  WHERE a.doc_id < b.doc_id
),
sets AS MATERIALIZED (SELECT DISTINCT doc_id, sh FROM sh),
sizes AS MATERIALIZED (SELECT doc_id, count(*) AS set_size FROM sets GROUP BY doc_id),
inter AS MATERIALIZED (
  SELECT p.id_a, p.id_b, count(*) AS n_inter
  FROM pairs p
  JOIN sets sa ON sa.doc_id = p.id_a
  JOIN sets sb ON sb.doc_id = p.id_b AND sb.sh = sa.sh
  GROUP BY p.id_a, p.id_b
),
v AS MATERIALIZED (
  SELECT round(coalesce(n_inter, 0) * 1.0
               / (za.set_size + zb.set_size - coalesce(n_inter, 0)), 6) AS s
  FROM pairs p
  LEFT JOIN inter USING (id_a, id_b)
  JOIN sizes za ON za.doc_id = p.id_a
  JOIN sizes zb ON zb.doc_id = p.id_b
  WHERE coalesce(n_inter, 0) * 1.0
        / (za.set_size + zb.set_size - coalesce(n_inter, 0)) >= 0.5
),
a AS MATERIALIZED (
  SELECT count(*) AS n_pairs, {', '.join(avgs)} FROM v
)
{union}
"""


QUERIES["d17_band_planner"] = (d17_band_planner, _d17_sql())


# --- T40: per-source lexical diversity (entropy / TTR / hapax) -------------------------

def t40_source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token/type counts, TTR, hapax share and unigram Shannon
    entropy (llm/text.py::source_diversity) — template farms read as low
    entropy + low TTR, OCR noise as a hapax explosion. Entropy via
    H = ln(N) - (sum c ln c)/N: one aggregation, no probability join."""
    from peskas_timor_data_pipeline_spark.llm.text import source_diversity

    docs = load(spark, sf_dir, "documents")
    return source_diversity(docs, "source", "text")


T40_ORACLE = """
WITH toks AS (
  SELECT source, unnest(string_split_regex(lower(text), '\\s+')) AS tok
  FROM documents
), counts AS MATERIALIZED (
  SELECT source, tok, count(*) AS c FROM toks WHERE tok <> '' GROUP BY source, tok
), agg AS (
  SELECT source,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_types,
         sum(c * ln(c)) AS clnc
  FROM counts GROUP BY source
)
SELECT source, n_tokens, n_types, hapax_types,
       CAST(round(1000000.0::DOUBLE * n_types / n_tokens) AS BIGINT) AS ttr_ppm,
       CAST(round(1000000.0::DOUBLE * hapax_types / n_types) AS BIGINT) AS hapax_ppm,
       round(ln(n_tokens) - clnc / n_tokens, 6) AS entropy_nats
FROM agg
"""

QUERIES["t40_source_diversity"] = (t40_source_diversity, T40_ORACLE)


# --- E24b: IVFPQ + refine (exact-L2 rerank of the ADC shortlist) -----------------------

def e24b_ivfpq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FAISS IndexRefineFlat composition over the same index as e24:
    ADC ranks the probed lists, the top-10 per query rerank by exact L2
    against the index's flat vectors (llm/similarity.py::ivfpq_search
    with rerank_m). The oracle replays the whole chain INCLUDING the
    refine, so a shortlist, join, or rerank bug breaks the hash."""
    from peskas_timor_data_pipeline_spark.llm.similarity import ivfpq_adc_topk

    emb = load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 50)
    cands = emb.filter(F.col("vec_id") >= 50)
    return ivfpq_adc_topk(
        qs, cands, "vec_id", "embedding",
        dim=DIM, m_sub=8, k_cb=16, n_cells=16, n_probe=4, k_top=3,
        rerank_m=10,
    )


def _e24b_sql() -> str:
    base = _e24_sql()
    # reuse e24's chain up to the ADC scores; swap the final top-3 for
    # shortlist -> exact-L2 refine -> top-3
    head, _tail = base.rsplit("SELECT query_id, cand_id,", 1)

    def l2_full(a: str, b: str) -> str:
        return " + ".join(
            f"(CAST({a}[{j}] AS DOUBLE) - CAST({b}[{j}] AS DOUBLE))"
            f" * (CAST({a}[{j}] AS DOUBLE) - CAST({b}[{j}] AS DOUBLE))"
            for j in range(1, DIM + 1)
        )

    return f"""{head}
, shortlist AS MATERIALIZED (
  SELECT query_id, cand_id, dist FROM (
    SELECT query_id, cand_id, dist,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dist, cand_id) AS rn
    FROM adc
  ) WHERE rn <= 10
), refined AS (
  SELECT s.query_id, s.cand_id, s.dist,
         {l2_full('q.embedding', 'e2.embedding')} AS l2
  FROM shortlist s
  JOIN embeddings q ON q.vec_id = s.query_id
  JOIN embeddings e2 ON e2.vec_id = s.cand_id
)
SELECT query_id, cand_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY l2, cand_id) AS INTEGER) AS rank,
       round(dist, 6) AS adc_dist,
       round(l2, 6) AS l2_dist
FROM refined
QUALIFY rank <= 3
"""


QUERIES["e24b_ivfpq_refine"] = (e24b_ivfpq_refine, _e24b_sql())


# --- T42: URL extraction + canonical host accounting ------------------------------------

def t42_url_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL extraction + canonicalization (llm/text.py::
    extract_canonical_urls) rolled up per canonical host — the
    crawl-pipeline accounting view (which domains dominate the corpus).
    The word-salad corpus has no URLs, so they are injected
    deterministically from doc ids (mixed-case hosts, www prefixes,
    query/fragment junk, trailing slashes, and a duplicate URL per
    doc_id%8 doc so canonical-dedup counts diverge from raw counts)."""
    from peskas_timor_data_pipeline_spark.llm.text import (
        extract_canonical_urls,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    with_urls = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(F.lit(" see https://WWW.Example"),
                         F.col("doc_id") % 7,
                         F.lit(".com/Path/"), F.col("doc_id"),
                         F.lit("?utm=x#frag")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 6 == 0,
                F.concat(F.lit(" ref http://cdn.example"),
                         F.col("doc_id") % 5, F.lit(".org/lib/")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 8 == 0,
                F.concat(F.lit(" again http://example"),
                         F.col("doc_id") % 7,
                         F.lit(".com/Path/"), F.col("doc_id")),
            ).otherwise(F.lit("")),
        ),
    )
    urls = extract_canonical_urls(with_urls, "doc_id", "text")
    return (
        urls.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("canonical").alias("n_canonical"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
        )
        .select("host",
                F.col("n_urls").cast("long").alias("n_urls"),
                F.col("n_canonical").cast("long").alias("n_canonical"),
                F.col("n_docs").cast("long").alias("n_docs"),
                F.col("min_doc").cast("long").alias("min_doc"))
    )


T42_ORACLE = r"""
WITH with_urls AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 4 = 0
                 THEN ' see https://WWW.Example' || (doc_id % 7)
                      || '.com/Path/' || doc_id || '?utm=x#frag'
                 ELSE '' END
         || CASE WHEN doc_id % 6 = 0
                 THEN ' ref http://cdn.example' || (doc_id % 5) || '.org/lib/'
                 ELSE '' END
         || CASE WHEN doc_id % 8 = 0
                 THEN ' again http://example' || (doc_id % 7)
                      || '.com/Path/' || doc_id
                 ELSE '' END AS text
  FROM documents
), raw AS MATERIALIZED (
  SELECT doc_id,
         unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9.-]+(/[!-~]*)?', 0))
           AS url
  FROM with_urls
), canon AS (
  SELECT doc_id, url,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(lower(url), '^https?://', ''),
               '^www\.', ''),
             '[?#].*$', ''),
           '/$', '') AS canonical
  FROM raw
)
SELECT split_part(canonical, '/', 1) AS host,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT canonical) AS BIGINT) AS n_canonical,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS min_doc
FROM canon
GROUP BY 1
"""

QUERIES["t42_url_hosts"] = (t42_url_hosts, T42_ORACLE)


# --- D20: incremental batch-vs-signature-store dedup ------------------------------------

_D20_MIN_AGREE = 12


def d20_store_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a persisted signature store
    (llm/dedup.py::match_signature_store): the corpus's MinHash
    signatures stand in for the store; the incoming batch is a recrawl
    slice (identical text under new ids, doc_id%10==0) plus a perturbed
    slice (appended tail, doc_id%10==5) — the steady-state 100 TB shape
    where new slices match against signatures WITHOUT touching corpus
    text. Similarity is signature-slot agreement (>= 12 of 16 slots);
    best store match per batch doc, ties to the smallest store id."""
    from peskas_timor_data_pipeline_spark.llm.dedup import (
        match_signature_store, minhash_signature,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    batch = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 5).select(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.concat(F.col("text"),
                         F.lit(" fresh crawl tail segment")).alias("text"),
            )
        )
    )
    store_sigs = minhash_signature(docs, "doc_id", "text", N_HASHES, K_SHINGLE)
    batch_sigs = minhash_signature(batch, "doc_id", "text", N_HASHES, K_SHINGLE)
    return match_signature_store(
        batch_sigs, store_sigs, "doc_id", N_HASHES, BAND_SIZE,
        min_agree=_D20_MIN_AGREE,
    )


def _d20_sql() -> str:
    agree = " + ".join(
        f"CASE WHEN b.h{j} = s.h{j} THEN 1 ELSE 0 END" for j in range(N_HASHES)
    )
    return f"""
WITH corpus AS MATERIALIZED (
  SELECT doc_id, text, 0 AS is_batch FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, 1 FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000, text || ' fresh crawl tail segment', 1
  FROM documents WHERE doc_id % 10 = 5
), sh AS MATERIALIZED (
  SELECT doc_id, is_batch,
         substr(lower(text), CAST(i AS INTEGER), {K_SHINGLE}) AS sh
  FROM (SELECT doc_id, is_batch, text,
               unnest(generate_series(1, length(text) - {K_SHINGLE - 1})) AS i
        FROM corpus)
), shd AS (
  SELECT doc_id, is_batch, sh, {_DIG_SQL} AS dig FROM sh
), sig AS MATERIALIZED (
  SELECT doc_id, is_batch, {_SIG_COLS} FROM shd GROUP BY doc_id, is_batch
), bb AS (
  SELECT doc_id AS batch_id, unnest([{_BAND_LIST}]) AS band_key
  FROM sig WHERE is_batch = 1
), sb AS (
  SELECT doc_id AS store_id, unnest([{_BAND_LIST}]) AS band_key
  FROM sig WHERE is_batch = 0
), cand AS MATERIALIZED (
  SELECT DISTINCT batch_id, store_id FROM bb JOIN sb USING (band_key)
), scored AS MATERIALIZED (
  SELECT c.batch_id, c.store_id, ({agree}) AS n_agree
  FROM cand c
  JOIN sig b ON b.doc_id = c.batch_id AND b.is_batch = 1
  JOIN sig s ON s.doc_id = c.store_id AND s.is_batch = 0
)
SELECT batch_id, store_id,
       CAST(n_agree AS BIGINT) AS n_agree,
       CAST(n_agree * 1000000 // {N_HASHES} AS BIGINT) AS est_jaccard_ppm
FROM (
  SELECT *, row_number() OVER (PARTITION BY batch_id
                               ORDER BY n_agree DESC, store_id) AS rn
  FROM scored WHERE n_agree >= {_D20_MIN_AGREE}
) WHERE rn = 1
"""


QUERIES["d20_store_match"] = (d20_store_match, _d20_sql())


def d20b_store_match_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d20 through the BANDED store path: the store's LSH band rows are
    persisted hive-partitioned on the band-key prefix
    (llm/dedup.py::store_band_rows; corpus pipeline ``band_store``
    artifact) and the matcher (match_signature_store with
    ``store_bands``) prunes its store-side scan to the prefixes the batch
    collides with, never re-deriving the store's bands. Pruning is
    lossless — candidates need band_key equality and equal keys share
    every prefix — so the verdicts are bit-identical to d20 and this
    query shares d20's oracle. The steady-state crawl shape: per-batch
    store IO tracks the colliding fraction, not store size."""
    import tempfile

    from peskas_timor_data_pipeline_spark.llm.dedup import (
        match_signature_store, minhash_signature, store_band_rows,
    )
    from peskas_timor_data_pipeline_spark.sources.io import read_parquet

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    batch = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 5).select(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.concat(F.col("text"),
                         F.lit(" fresh crawl tail segment")).alias("text"),
            )
        )
    )
    store_sigs = minhash_signature(docs, "doc_id", "text", N_HASHES, K_SHINGLE)
    batch_sigs = minhash_signature(batch, "doc_id", "text", N_HASHES, K_SHINGLE)
    path = tempfile.mkdtemp(prefix="band_store_") + "/bands"

    # The store-artifact write and the batch signature pass are
    # INDEPENDENT corpus-scale jobs (store minhash -> band write vs batch
    # minhash -> checkpoint); running them from a 2-thread pool overlaps
    # their stages (guide §2.6) instead of serializing two full passes.
    # The matcher's own materialize() passes the pre-checkpointed batch
    # frame through untouched.
    def _write_store() -> None:
        (
            store_band_rows(store_sigs, "doc_id", N_HASHES, BAND_SIZE)
            .repartition("band_pfx")
            .write.mode("overwrite")
            .partitionBy("band_pfx")
            .parquet(path)
        )

    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    from peskas_timor_data_pipeline_spark.llm.ckpt import materialize

    # the pool threads carry the caller's job tags and group
    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=2) as pool:
        store_fut = pool.submit(inherit(_write_store))
        batch_fut = pool.submit(inherit(materialize), batch_sigs)
        store_fut.result()
        batch_sigs = batch_fut.result()
    return match_signature_store(
        batch_sigs, store_sigs, "doc_id", N_HASHES, BAND_SIZE,
        min_agree=_D20_MIN_AGREE,
        store_bands=read_parquet(spark, path),
    )


QUERIES["d20b_store_match_banded"] = (d20b_store_match_banded, _d20_sql())


# --- T43: PMI collocations ---------------------------------------------------------------

def t43_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-ranked adjacent-token collocations
    (llm/text.py::pmi_collocations): boilerplate-phrase / tokenizer-merge
    candidate mining. All counts exact integers; the single ln sits on
    integer inputs and rounds at 6dp (t40 convention)."""
    from peskas_timor_data_pipeline_spark.llm.text import pmi_collocations

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return pmi_collocations(docs, "doc_id", "text", min_count=5)


T43_ORACLE = r"""
WITH toks AS MATERIALIZED (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x != '') AS t
  FROM documents
), uni AS MATERIALIZED (
  SELECT tok AS w, count(*) AS c
  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY 1
), bg AS MATERIALIZED (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM toks WHERE len(t) >= 2)
), big AS (
  SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2 HAVING count(*) >= 5
), n AS (SELECT CAST(sum(c) AS BIGINT) AS nt FROM uni)
SELECT b.w1, b.w2,
       CAST(b.c12 AS BIGINT) AS c12,
       CAST(u1.c AS BIGINT) AS c1,
       CAST(u2.c AS BIGINT) AS c2,
       round(ln(CAST(b.c12 AS DOUBLE) * CAST(n.nt AS DOUBLE)
                / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))), 6) AS pmi
FROM big b
JOIN uni u1 ON u1.w = b.w1
JOIN uni u2 ON u2.w = b.w2
CROSS JOIN n
"""

QUERIES["t43_pmi_collocations"] = (t43_pmi_collocations, T43_ORACLE)


# --- E26: mutual kNN pairs (reciprocal-NN graph) ------------------------------------------

def e26_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual k-nearest-neighbor pairs (llm/similarity.py::mutual_knn):
    reciprocal top-5 by cosine over the IVF probed-cell path — the
    hub-suppressing near-dup graph. The oracle replays the whole chain
    (centroid seeding, assignment, probing, k+1 ranking, self-drop,
    mutualization), so a probe or reciprocity bug breaks the hash."""
    from peskas_timor_data_pipeline_spark.llm.similarity import mutual_knn

    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    return mutual_knn(
        emb, "vec_id", "embedding", k=5, dim=DIM, n_cells=16, n_probe=4
    )


E26_ORACLE = f"""
WITH coll AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500
),
cents AS (
  SELECT vec_id AS cell_id, embedding AS cvec
  FROM coll
  ORDER BY md5('cent#' || CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
),
c AS (SELECT vec_id AS cand_id, embedding AS cv FROM coll),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM coll),
assign AS MATERIALIZED (
  SELECT cand_id, cell_id, cv FROM (
    SELECT cand_id, cell_id, cv,
           row_number() OVER (
             PARTITION BY cand_id
             ORDER BY ({_dot_sql('cv', 'cvec')})
                      / (sqrt({_dot_sql('cv', 'cv')}) * sqrt({_dot_sql('cvec', 'cvec')})) DESC,
                      cell_id
           ) AS rn
    FROM c CROSS JOIN cents
  ) WHERE rn = 1
),
probes AS MATERIALIZED (
  SELECT query_id, qv, cell_id FROM (
    SELECT query_id, qv, cell_id,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY ({_dot_sql('qv', 'cvec')})
                      / (sqrt({_dot_sql('qv', 'qv')}) * sqrt({_dot_sql('cvec', 'cvec')})) DESC,
                      cell_id
           ) AS rn
    FROM q CROSS JOIN cents
  ) WHERE rn <= 4
),
scored AS MATERIALIZED (
  SELECT query_id, cand_id,
         ({_dot_sql('qv', 'cv')})
         / (sqrt({_dot_sql('qv', 'qv')}) * sqrt({_dot_sql('cv', 'cv')})) AS cosine
  FROM probes JOIN assign USING (cell_id)
),
knn AS MATERIALIZED (
  SELECT query_id, cand_id, cosine FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, cand_id) AS rank
    FROM scored
  ) WHERE rank <= 6 AND query_id != cand_id
)
SELECT f.id_a, f.id_b, round(f.cosine, 6) AS cosine
FROM (SELECT query_id AS id_a, cand_id AS id_b, cosine
      FROM knn WHERE query_id < cand_id) f
JOIN (SELECT cand_id AS id_a, query_id AS id_b
      FROM knn WHERE query_id > cand_id) r USING (id_a, id_b)
"""

QUERIES["e26_mutual_knn"] = (e26_mutual_knn, E26_ORACLE)


# --- T44: Zipf-slope vocabulary QA --------------------------------------------------------

def t44_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-frequency Zipf fit (llm/text.py::zipf_slope): OLS of ln(freq)
    on ln(rank) over the top-100 types. The four OLS sums fold over the
    rank-sorted collected array (pinned order — the only way a float
    reduction enters a hashed output, SURVEY §7.4)."""
    from peskas_timor_data_pipeline_spark.llm.text import zipf_slope

    docs = load(spark, sf_dir, "documents").select("text")
    return zipf_slope(docs, "text", top_r=100)


T44_ORACLE = r"""
WITH counts AS MATERIALIZED (
  SELECT tok, count(*) AS freq
  FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS tok
        FROM documents)
  WHERE tok != '' GROUP BY tok
), top AS MATERIALIZED (
  SELECT rank, ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y
  FROM (SELECT freq,
               row_number() OVER (ORDER BY freq DESC, tok) AS rank
        FROM counts)
  WHERE rank <= 100
), folded AS (
  SELECT CAST(count(*) AS BIGINT) AS n_points,
         list_reduce([0.0::DOUBLE] || list(x ORDER BY rank), (a, b) -> a + b) AS sx,
         list_reduce([0.0::DOUBLE] || list(y ORDER BY rank), (a, b) -> a + b) AS sy,
         list_reduce([0.0::DOUBLE] || list(x * y ORDER BY rank), (a, b) -> a + b) AS sxy,
         list_reduce([0.0::DOUBLE] || list(x * x ORDER BY rank), (a, b) -> a + b) AS sxx
  FROM top
)
SELECT n_points,
       round((CAST(n_points AS DOUBLE) * sxy - sx * sy)
             / (CAST(n_points AS DOUBLE) * sxx - sx * sx), 6) AS slope,
       round((sy - (CAST(n_points AS DOUBLE) * sxy - sx * sy)
                   / (CAST(n_points AS DOUBLE) * sxx - sx * sx) * sx)
             / CAST(n_points AS DOUBLE), 6) AS intercept
FROM folded
"""

QUERIES["t44_zipf_slope"] = (t44_zipf_slope, T44_ORACLE)


# --- T45: Jensen-Shannon corpus drift ------------------------------------------------------

def t45_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-distribution JSD between the even- and odd-doc_id halves
    of the corpus (llm/text.py::js_divergence) — the symmetric, bounded
    mixture-drift measure. Per-token ln terms reduce via the house
    scale-and-round idiom (floor(term*1e9 + 0.5) -> exact integer sum),
    so the fold is order-independent on both engines."""
    from peskas_timor_data_pipeline_spark.llm.text import js_divergence

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return js_divergence(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        "text",
    )


T45_ORACLE = r"""
WITH ta AS MATERIALIZED (
  SELECT tok AS w, count(*) AS ca FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                              x -> x != '')) AS tok
    FROM documents WHERE doc_id % 2 = 0
  ) GROUP BY 1
), tb AS MATERIALIZED (
  SELECT tok AS w, count(*) AS cb FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                              x -> x != '')) AS tok
    FROM documents WHERE doc_id % 2 = 1
  ) GROUP BY 1
), j AS MATERIALIZED (
  SELECT coalesce(ta.ca, 0) AS ca, coalesce(tb.cb, 0) AS cb
  FROM ta FULL OUTER JOIN tb USING (w)
), tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb FROM j
), terms AS (
  SELECT
    CASE WHEN ca > 0 THEN
      (CAST(ca AS DOUBLE) / na)
      * ln((CAST(ca AS DOUBLE) / na)
           / ((CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb) / 2.0))
    ELSE 0.0 END AS term_a,
    CASE WHEN cb > 0 THEN
      (CAST(cb AS DOUBLE) / nb)
      * ln((CAST(cb AS DOUBLE) / nb)
           / ((CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb) / 2.0))
    ELSE 0.0 END AS term_b,
    na, nb
  FROM j CROSS JOIN tot
)
SELECT CAST(count(*) AS BIGINT) AS vocab_size,
       CAST(max(na) AS BIGINT) AS n_tokens_a,
       CAST(max(nb) AS BIGINT) AS n_tokens_b,
       round((sum(CAST(floor(term_a * 1000000000.0 + 0.5) AS BIGINT))
              + sum(CAST(floor(term_b * 1000000000.0 + 0.5) AS BIGINT)))
             / 2000000000.0, 6) AS jsd_nats
FROM terms
"""

QUERIES["t45_js_divergence"] = (t45_js_divergence, T45_ORACLE)


# --- D21: winnowing fingerprints (MOSS) ----------------------------------------------------

def d21_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint summary per document
    (llm/dedup.py::winnow_fingerprints, Schleimer et al. 2003): k=16-char
    grams, window 8, rightmost-min selection via the engine-portable
    sortable-key encoding. Output is the per-doc fingerprint count, the
    position sum, and the 48-bit-extension checksum of the selected
    hashes (the d7b localization idiom), so any divergence names the
    documents whose SELECTED set differs."""
    from peskas_timor_data_pipeline_spark.llm.dedup import winnow_fingerprints

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.lower(
            F.regexp_replace(F.col("text"), "[^\\x20-\\x7E]", "")
        ).alias("text"),
    )
    fps = winnow_fingerprints(docs, "doc_id", "text", k_gram=16, window=8)
    agg = fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fps"),
        F.sum("fp_pos").alias("pos_sum"),
        F.sum(
            F.conv(F.substring(F.md5("fp"), 1, 12), 16, 10).cast("long")
        ).alias("fp_sum"),
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_fps", F.lit(0)).cast("long").alias("n_fps"),
            F.coalesce("pos_sum", F.lit(0)).cast("long").alias("pos_sum"),
            F.coalesce("fp_sum", F.lit(0)).cast("long").alias("fp_sum"),
        )
    )


D21_ORACLE = f"""
WITH norm AS ({_D7_NORM}),
grams AS MATERIALIZED (
  SELECT doc_id, CAST(i AS INTEGER) AS pos,
         substr(md5(substr(t, CAST(i AS INTEGER), 16)), 1, 8) AS h
  FROM (SELECT doc_id, t, unnest(generate_series(1, length(t) - 15)) AS i
        FROM norm WHERE length(t) >= 16)
), keyed AS MATERIALIZED (
  SELECT doc_id, pos,
         h || '#' || lpad(CAST(10000000 - pos AS VARCHAR), 7, '0') AS k,
         count(*) OVER (PARTITION BY doc_id) AS n
  FROM grams
), winmin AS MATERIALIZED (
  SELECT doc_id, pos, n,
         min(k) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wmin
  FROM keyed
), sel AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         10000000 - CAST(substr(wmin, 10, 7) AS INTEGER) AS fp_pos,
         substr(wmin, 1, 8) AS fp
  FROM winmin
  WHERE pos <= greatest(n - 8 + 1, 1)
), agg AS (
  SELECT doc_id, count(*) AS n_fps, sum(fp_pos) AS pos_sum,
         sum(('0x' || substr(md5(fp), 1, 12))::BIGINT) AS fp_sum
  FROM sel GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(n_fps, 0) AS BIGINT) AS n_fps,
       CAST(coalesce(pos_sum, 0) AS BIGINT) AS pos_sum,
       CAST(coalesce(fp_sum, 0) AS BIGINT) AS fp_sum
FROM documents d LEFT JOIN agg USING (doc_id)
"""

QUERIES["d21_winnow_fingerprints"] = (d21_winnow_fingerprints, D21_ORACLE)


# --- T46: Flesch readability scoring ------------------------------------------------------

def t46_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease gate (llm/text.py::readability_scores) over
    the documents table: engine-portable word/sentence/vowel-run
    counting (identical Java-regex / RE2 semantics), score a single
    fixed IEEE expression over exact integer counts."""
    from peskas_timor_data_pipeline_spark.llm.text import readability_scores

    docs = load(spark, sf_dir, "documents")
    return readability_scores(docs, "doc_id", "text").withColumnRenamed(
        "id", "doc_id"
    )


T46_ORACLE = """
WITH counted AS MATERIALIZED (
  SELECT doc_id,
         CAST(len(regexp_extract_all(lower(text), '[^ \\t\\n]+')) AS BIGINT)
           AS n_words,
         greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT),
                  1) AS n_sentences,
         CAST(COALESCE(list_sum(list_transform(
                regexp_extract_all(lower(text), '[^ \\t\\n]+'),
                w -> greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1)
              )), 0) AS BIGINT) AS n_syllables
  FROM documents
), scored AS (
  SELECT *,
         206.835
           - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
           - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) AS fl
  FROM counted
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CASE WHEN n_words > 0 THEN round(fl, 6) END AS flesch,
       CASE WHEN n_words > 0 THEN
         CASE WHEN fl >= 90 THEN 'very_easy'
              WHEN fl >= 80 THEN 'easy'
              WHEN fl >= 70 THEN 'fairly_easy'
              WHEN fl >= 60 THEN 'standard'
              WHEN fl >= 50 THEN 'fairly_hard'
              WHEN fl >= 30 THEN 'hard'
              ELSE 'very_hard' END
       END AS band
FROM scored
"""

QUERIES["t46_readability"] = (t46_readability, T46_ORACLE)


# --- E27: rank-2 PCA by power iteration + deflation --------------------------------------

def e27_pca_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 principal directions (llm/similarity.py::pca_top2) of the
    first 8 embedding dims: one corpus moments pass, two pinned
    3-iteration power chains with Hotelling deflation between them, all
    arithmetic rounded per step so the oracle replays identical
    rationals (the e17 convention, extended through the deflation)."""
    from peskas_timor_data_pipeline_spark.llm.similarity import pca_top2

    emb = load(spark, sf_dir, "embeddings")
    return pca_top2(emb, "embedding", dim=8, n_iter=3)


def _e27_sql() -> str:
    dim, r, n_iter = 8, 6, 3
    sums = ", ".join(
        f"sum(CAST(embedding[{i}] AS DOUBLE)) AS s{i}" for i in range(1, dim + 1)
    )
    prods = ", ".join(
        f"sum(CAST(embedding[{i}] AS DOUBLE) * CAST(embedding[{j}] AS DOUBLE)) AS p{i}_{j}"
        for i in range(1, dim + 1) for j in range(i, dim + 1)
    )
    cov_arms = " UNION ALL ".join(
        f"SELECT {i} AS i, {j} AS j, "
        f"round((p{min(i,j)}_{max(i,j)} - s{i} * s{j} / n) / n, {r}) AS c FROM m"
        for i in range(1, dim + 1) for j in range(1, dim + 1)
    )
    start = ", ".join(f"({j}, 1.0)" for j in range(1, dim + 1))

    def chain(mat: str, pre: str) -> str:
        out = []
        for k in range(1, n_iter + 1):
            prev = f"{pre}{k - 1}"
            out.append(f""",
{pre}cv{k} AS MATERIALIZED (
  SELECT {mat}.i, round(sum({mat}.c * {prev}.v), {r}) AS cv
  FROM {mat} JOIN {prev} ON {mat}.j = {prev}.j GROUP BY {mat}.i
),
{pre}piv{k} AS MATERIALIZED (
  SELECT cv FROM {pre}cv{k} ORDER BY abs(cv) DESC, i LIMIT 1
),
{pre}{k} AS MATERIALIZED (
  SELECT i AS j, round(cv / (SELECT cv FROM {pre}piv{k}), {r}) AS v
  FROM {pre}cv{k}
)""")
        return "".join(out)

    return f"""
WITH m AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS n, {sums}, {prods} FROM embeddings
),
cov AS MATERIALIZED ({cov_arms}),
v0(j, v) AS (VALUES {start}){chain('cov', 'v')},
vv AS MATERIALIZED (SELECT round(sum(v * v), {r}) AS vv FROM v{n_iter}),
e1 AS MATERIALIZED (SELECT abs(cv) AS e FROM vpiv{n_iter}),
cov2 AS MATERIALIZED (
  SELECT cov.i, cov.j,
         round(cov.c - e1.e * vi.v * vj.v / vv.vv, {r}) AS c
  FROM cov
  JOIN v{n_iter} vi ON cov.i = vi.j
  JOIN v{n_iter} vj ON cov.j = vj.j
  CROSS JOIN vv CROSS JOIN e1
),
u0(j, v) AS (VALUES {start}){chain('cov2', 'u')}
SELECT 1 AS comp, CAST(j AS BIGINT) AS i, v AS loading,
       (SELECT abs(cv) FROM vpiv{n_iter}) AS eigenvalue
FROM v{n_iter}
UNION ALL
SELECT 2 AS comp, CAST(j AS BIGINT) AS i, v AS loading,
       (SELECT abs(cv) FROM upiv{n_iter}) AS eigenvalue
FROM u{n_iter}
"""


QUERIES["e27_pca_top2"] = (e27_pca_top2, _e27_sql())


# --- E28: per-document PCA projection scores ---------------------------------------------

def e28_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 PCA scores per embedding (llm/similarity.py::pca_scores):
    mean-centered projections onto the e27 component pair — the 2-D
    corpus-drift/outlier map. Loadings + rounded means broadcast as one
    row; each score is a single left-associated codegen chain."""
    from peskas_timor_data_pipeline_spark.llm.similarity import pca_scores

    emb = load(spark, sf_dir, "embeddings")
    return pca_scores(emb, "vec_id", "embedding", dim=8, n_iter=3).select(
        F.col("id").alias("vec_id"), "score1", "score2"
    )


def _e28_sql() -> str:
    dim, r, n_iter = 8, 6, 3
    sums = ", ".join(
        f"sum(CAST(embedding[{i}] AS DOUBLE)) AS s{i}" for i in range(1, dim + 1)
    )
    prods = ", ".join(
        f"sum(CAST(embedding[{i}] AS DOUBLE) * CAST(embedding[{j}] AS DOUBLE)) AS p{i}_{j}"
        for i in range(1, dim + 1) for j in range(i, dim + 1)
    )
    cov_arms = " UNION ALL ".join(
        f"SELECT {i} AS i, {j} AS j, "
        f"round((p{min(i,j)}_{max(i,j)} - s{i} * s{j} / n) / n, {r}) AS c FROM m"
        for i in range(1, dim + 1) for j in range(1, dim + 1)
    )
    start = ", ".join(f"({j}, 1.0)" for j in range(1, dim + 1))

    def chain(mat: str, pre: str) -> str:
        out = []
        for k in range(1, n_iter + 1):
            prev = f"{pre}{k - 1}"
            out.append(f""",
{pre}cv{k} AS MATERIALIZED (
  SELECT {mat}.i, round(sum({mat}.c * {prev}.v), {r}) AS cv
  FROM {mat} JOIN {prev} ON {mat}.j = {prev}.j GROUP BY {mat}.i
),
{pre}piv{k} AS MATERIALIZED (
  SELECT cv FROM {pre}cv{k} ORDER BY abs(cv) DESC, i LIMIT 1
),
{pre}{k} AS MATERIALIZED (
  SELECT i AS j, round(cv / (SELECT cv FROM {pre}piv{k}), {r}) AS v
  FROM {pre}cv{k}
)""")
        return "".join(out)

    means = ", ".join(
        f"round(s{i} / n, {r}) AS m{i}" for i in range(1, dim + 1)
    )
    w1 = ", ".join(
        f"max(CASE WHEN j = {i} THEN v END) AS w1_{i}"
        for i in range(1, dim + 1)
    )
    w2 = ", ".join(
        f"max(CASE WHEN j = {i} THEN v END) AS w2_{i}"
        for i in range(1, dim + 1)
    )
    s1 = " + ".join(
        f"(CAST(embedding[{i}] AS DOUBLE) - m{i}) * w1_{i}"
        for i in range(1, dim + 1)
    )
    s2 = " + ".join(
        f"(CAST(embedding[{i}] AS DOUBLE) - m{i}) * w2_{i}"
        for i in range(1, dim + 1)
    )
    return f"""
WITH m AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS n, {sums}, {prods} FROM embeddings
),
cov AS MATERIALIZED ({cov_arms}),
v0(j, v) AS (VALUES {start}){chain('cov', 'v')},
vv AS MATERIALIZED (SELECT round(sum(v * v), {r}) AS vv FROM v{n_iter}),
e1 AS MATERIALIZED (SELECT abs(cv) AS e FROM vpiv{n_iter}),
cov2 AS MATERIALIZED (
  SELECT cov.i, cov.j,
         round(cov.c - e1.e * vi.v * vj.v / vv.vv, {r}) AS c
  FROM cov
  JOIN v{n_iter} vi ON cov.i = vi.j
  JOIN v{n_iter} vj ON cov.j = vj.j
  CROSS JOIN vv CROSS JOIN e1
),
u0(j, v) AS (VALUES {start}){chain('cov2', 'u')},
mw AS MATERIALIZED (SELECT {means} FROM m),
w1w AS MATERIALIZED (SELECT {w1} FROM v{n_iter}),
w2w AS MATERIALIZED (SELECT {w2} FROM u{n_iter})
SELECT vec_id,
       round({s1}, {r}) AS score1,
       round({s2}, {r}) AS score2
FROM embeddings CROSS JOIN mw CROSS JOIN w1w CROSS JOIN w2w
"""


QUERIES["e28_pca_project"] = (e28_pca_project, _e28_sql())


# --- E29: IVF hot-cell split (index maintenance) -----------------------------------------

def e29_ivf_cell_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split the hottest inverted list of the e3/e18 IVF configuration
    (llm/similarity.py::ivf_cell_split): highest-variance-dimension mean
    split, variance rounded before the argmax so the discrete choice
    cannot flip between engines. Reports the split decision and the
    imbalance factor before/after — the mitigation for the skew e18
    measures."""
    from peskas_timor_data_pipeline_spark.llm.similarity import ivf_cell_split

    emb = load(spark, sf_dir, "embeddings")
    candidates = emb.filter(F.col("vec_id") >= 20)
    return ivf_cell_split(candidates, "vec_id", "embedding", n_cells=16, dim=DIM)


def _e29_sql() -> str:
    r = 6
    moms = ", ".join(
        f"sum(CAST(cv[{i}] AS DOUBLE)) AS s{i}, "
        f"sum(CAST(cv[{i}] AS DOUBLE) * CAST(cv[{i}] AS DOUBLE)) AS q{i}"
        for i in range(1, DIM + 1)
    )
    arms = " UNION ALL ".join(
        f"SELECT {i} AS d, round((q{i} - s{i} * s{i} / n) / n, {r}) AS var, "
        f"round(s{i} / n, {r}) AS thr FROM mom"
        for i in range(1, DIM + 1)
    )
    return f"""
WITH c AS MATERIALIZED (
  SELECT vec_id AS cand_id, embedding AS cv FROM embeddings WHERE vec_id >= 20
), cents AS MATERIALIZED (
  SELECT vec_id AS cell_id, embedding AS cvec
  FROM embeddings WHERE vec_id >= 20
  ORDER BY md5('cent#' || CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
), assign AS MATERIALIZED (
  SELECT cand_id, cell_id FROM (
    SELECT cand_id, cell_id,
           row_number() OVER (
             PARTITION BY cand_id
             ORDER BY ({_dot_sql('cv', 'cvec')})
                      / (sqrt({_dot_sql('cv', 'cv')})
                         * sqrt({_dot_sql('cvec', 'cvec')})) DESC,
                      cell_id
           ) AS rn
    FROM c CROSS JOIN cents
  ) WHERE rn = 1
), sizes AS MATERIALIZED (
  SELECT cell_id, CAST(count(*) AS BIGINT) AS sz
  FROM assign GROUP BY cell_id
), hot AS MATERIALIZED (
  SELECT cell_id AS hot_cell, sz AS n_hot FROM sizes
  ORDER BY sz DESC, cell_id LIMIT 1
), hr AS MATERIALIZED (
  SELECT cv FROM c
  JOIN assign USING (cand_id)
  JOIN hot ON assign.cell_id = hot.hot_cell
), mom AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS n, {moms} FROM hr
), dims AS MATERIALIZED ({arms}),
pick AS MATERIALIZED (
  SELECT d, thr FROM dims ORDER BY var DESC, d LIMIT 1
), halves AS (
  SELECT CAST(sum(CASE WHEN CAST(list_extract(cv, d) AS DOUBLE) < thr
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
         CAST(max(d) AS BIGINT) AS split_dim,
         max(thr) AS threshold
  FROM hr CROSS JOIN pick
), before AS (
  SELECT CAST(count(*) AS BIGINT) AS ncu, CAST(sum(sz) AS BIGINT) AS nt,
         CAST(max(sz) AS BIGINT) AS mx
  FROM sizes
), om AS (
  SELECT CAST(COALESCE(max(sz), 0) AS BIGINT) AS others_max
  FROM sizes WHERE cell_id NOT IN (SELECT hot_cell FROM hot)
)
SELECT hot_cell, n_hot, split_dim, threshold, n_low,
       CAST(n_hot - n_low AS BIGINT) AS n_high,
       ncu AS n_cells_used,
       round(mx / (nt / CAST(ncu AS DOUBLE)), {r}) AS imbalance_before,
       round(CAST(greatest(others_max, n_low, n_hot - n_low) AS DOUBLE)
             / (nt / CAST(ncu + 1 AS DOUBLE)), {r}) AS imbalance_after
FROM hot CROSS JOIN halves CROSS JOIN before CROSS JOIN om
"""


QUERIES["e29_ivf_cell_split"] = (e29_ivf_cell_split, _e29_sql())


# --- M21: classification report (per-class precision/recall/F1) --------------------------

def m21_classification_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 (operators/estimate.py::
    classification_report) of the t1 stopword language classifier
    against the documents table's true lang labels — the evaluation
    table for every classifier gate in the pipeline. Confusion counts
    are exact integers; every ratio is one guarded IEEE expression."""
    from peskas_timor_data_pipeline_spark.operators.estimate import (
        classification_report,
    )

    docs = load(spark, sf_dir, "documents")
    pred = langid_heuristic(docs, "text")
    return classification_report(pred, "lang", "pred_lang")


M21_ORACLE = f"""
WITH hits AS (
  SELECT lang,
         {_hits_sql('en')} AS en_h, {_hits_sql('fr')} AS fr_h,
         {_hits_sql('es')} AS es_h, {_hits_sql('de')} AS de_h
  FROM documents
), pred AS (
  SELECT lang,
         CASE WHEN de_h > greatest(en_h, fr_h, es_h) THEN 'de'
              WHEN es_h > greatest(en_h, fr_h) THEN 'es'
              WHEN fr_h > en_h THEN 'fr'
              WHEN en_h > 0 THEN 'en'
              ELSE 'und' END AS pred_lang
  FROM hits
), cells AS MATERIALIZED (
  SELECT lang AS t, pred_lang AS p, CAST(count(*) AS BIGINT) AS n
  FROM pred GROUP BY lang, pred_lang
), tm AS (
  SELECT t AS label, CAST(sum(n) AS BIGINT) AS support,
         CAST(sum(CASE WHEN t = p THEN n ELSE 0 END) AS BIGINT) AS tp
  FROM cells GROUP BY t
), pm AS (
  SELECT p AS label, CAST(sum(n) AS BIGINT) AS n_pred FROM cells GROUP BY p
), rep AS (
  SELECT COALESCE(tm.label, pm.label) AS label,
         CAST(COALESCE(support, 0) AS BIGINT) AS support,
         CAST(COALESCE(tp, 0) AS BIGINT) AS tp,
         CAST(COALESCE(n_pred, 0) - COALESCE(tp, 0) AS BIGINT) AS fp,
         CAST(COALESCE(support, 0) - COALESCE(tp, 0) AS BIGINT) AS fn
  FROM tm FULL OUTER JOIN pm ON tm.label = pm.label
)
SELECT label, support, tp, fp, fn,
       CASE WHEN tp + fp > 0 THEN round(tp / (tp + fp), 6) END AS precision,
       CASE WHEN tp + fn > 0 THEN round(tp / (tp + fn), 6) END AS recall,
       CASE WHEN tp + fp > 0 AND tp + fn > 0
            THEN CASE WHEN tp / (tp + fp) + tp / (tp + fn) > 0
                      THEN round(2.0 * (tp / (tp + fp)) * (tp / (tp + fn))
                                 / (tp / (tp + fp) + tp / (tp + fn)), 6)
                      ELSE 0.0 END
       END AS f1
FROM rep
"""

QUERIES["m21_classification_report"] = (
    m21_classification_report, M21_ORACLE,
)


# --- T47: Good-Turing coverage -----------------------------------------------------------

def t47_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing unseen-mass and smoothed low counts
    (llm/text.py::good_turing_coverage) over the documents corpus —
    "how much of the domain's vocabulary distribution has this crawl
    captured". Spectrum chain shared with t26; everything downstream is
    exact integers with guarded single divisions."""
    from peskas_timor_data_pipeline_spark.llm.text import good_turing_coverage

    docs = load(spark, sf_dir, "documents")
    return good_turing_coverage(docs, "text", max_r=5)


T47_ORACLE = """
WITH toks AS (
  SELECT tok FROM (
    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM documents
  ) WHERE tok <> ''
), counts AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY tok
), spectrum AS MATERIALIZED (
  SELECT freq, CAST(count(*) AS BIGINT) AS n_types FROM counts GROUP BY freq
), totals AS (
  SELECT CAST(sum(freq * n_types) AS BIGINT) AS n_tokens,
         CAST(sum(n_types) AS BIGINT) AS n_types_total,
         CAST(COALESCE(sum(CASE WHEN freq = 1 THEN n_types END), 0) AS BIGINT)
           AS s1
  FROM spectrum
), grid AS (
  SELECT unnest(generate_series(1, 5, 1)) AS r
), rws AS (
  SELECT g.r,
         CAST(COALESCE(sr.n_types, 0) AS BIGINT) AS s_r,
         CAST(COALESCE(sr1.n_types, 0) AS BIGINT) AS s_r1
  FROM grid g
  LEFT JOIN spectrum sr ON sr.freq = g.r
  LEFT JOIN spectrum sr1 ON sr1.freq = g.r + 1
)
SELECT CAST(r AS BIGINT) AS r, s_r, s_r1,
       CASE WHEN s_r > 0 AND s_r1 > 0
            THEN round(CAST(r + 1 AS DOUBLE) * s_r1 / s_r, 6) END AS r_star,
       n_tokens, n_types_total AS n_types,
       CASE WHEN n_tokens > 0
            THEN round(CAST(s1 AS DOUBLE) / n_tokens, 6) END AS missing_mass,
       CASE WHEN n_tokens > 0
            THEN round(1.0 - CAST(s1 AS DOUBLE) / n_tokens, 6) END AS coverage
FROM rws CROSS JOIN totals
"""

QUERIES["t47_good_turing"] = (t47_good_turing, T47_ORACLE)
