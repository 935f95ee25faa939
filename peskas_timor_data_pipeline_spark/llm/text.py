"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting. All pure column expressions (no UDFs) so they run
JVM-side at full scan speed and are oracle-reproducible."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from peskas_timor_data_pipeline_spark.session import local_frame

# n-gram-heuristic language ID: tiny per-language stopword inventories.
# Deterministic tie-break = this dict's order.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est"],
    "es": ["el", "la", "y", "los", "de", "que", "un", "una"],
    "de": ["der", "die", "und", "das", "ein", "ist", "nicht", "mit"],
}


def tokens(text_col: str) -> Column:
    return F.split(F.lower(F.col(text_col)), r"\s+")


def stopword_hits(text_col: str, words: list[str]) -> Column:
    """How many tokens belong to the given stopword set."""
    wl = ", ".join(f"'{w}'" for w in words)
    return F.expr(
        f"size(filter(split(lower({text_col}), '\\\\s+'), x -> x IN ({wl})))"
    )


def langid_heuristic(df: DataFrame, text_col: str, out_col: str = "pred_lang") -> DataFrame:
    """Argmax of per-language stopword hit counts; 'und' when all zero.
    Ties resolve in STOPWORDS declaration order (deterministic)."""
    out = df
    for lang, words in STOPWORDS.items():
        out = out.withColumn(f"__{lang}__", stopword_hits(text_col, words))
    best = F.lit("und")
    best_n = F.lit(0)
    for lang in STOPWORDS:  # later langs must strictly beat earlier ones
        cond = F.col(f"__{lang}__") > best_n
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_n = F.when(cond, F.col(f"__{lang}__")).otherwise(best_n)
    return out.withColumn(out_col, best).drop(*[f"__{l}__" for l in STOPWORDS])


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Length/punctuation/stopword quality features + a composite score in
    [0, 1]. Mirrors the heuristics production corpus filters use (length
    bands, symbol ratio, stopword presence)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    alpha_only = F.regexp_replace(F.lower(t), "[^a-z]", "")
    punct_only = F.regexp_replace(t, r"[a-zA-Z0-9\s]", "")
    en_hits = stopword_hits(text_col, STOPWORDS["en"])
    out = (
        df.withColumn("n_chars_f", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn(
            "avg_token_len",
            F.round(F.length(F.regexp_replace(t, r"\s+", "")) / n_tokens, 6),
        )
        .withColumn("alpha_ratio", F.round(F.length(alpha_only) / n_chars, 6))
        .withColumn("punct_ratio", F.round(F.length(punct_only) / n_chars, 6))
        .withColumn("stopword_ratio", F.round(en_hits / n_tokens, 6))
    )
    score = (
        F.least(F.col("n_tokens") / 100.0, F.lit(1.0)) * 0.3
        + F.col("alpha_ratio") * 0.4
        + F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0)) * 0.2
        + (1.0 - F.least(F.col("punct_ratio") * 10.0, F.lit(1.0))) * 0.1
    )
    return out.withColumn("quality_score", F.round(score, 6))


def repetition_signals(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition quality gates (Rae et al. 2021 §A1.1):
    documents dominated by repeated lines or one hammered word pair are
    boilerplate/spam and get filtered before training. Per document:

    - ``n_lines``: non-empty trimmed ``\\n``-lines
    - ``dup_line_ppm``: fraction of lines that are repeats of another line
      (1 - distinct/total), integer ppm
    - ``dup_char_ppm``: fraction of line characters inside lines occurring
      more than once (ALL occurrences counted — documented choice), ppm
    - ``top_bigram_ppm``: characters covered by the most frequent adjacent
      word 2-gram (count x combined word length; overlapping occurrences
      each count), over total word characters, ppm. Ties break on the
      lexicographically smallest bigram.

    All-integer output: exact cross-engine, no float surface. Scale shape:
    two explode -> partial-aggregated groupBy chains (lines, bigrams) —
    shuffles carry one row per distinct (doc, line) / (doc, bigram), never
    raw text positions; the per-doc top-bigram is a rank-1 window over the
    aggregated frame. A pure higher-order rewrite would be shuffle-free
    but O(lines^2) per row inside a lambda — wrong at 100 TB where a
    single doc can carry 10^4 lines."""
    lines_arr = F.filter(
        F.transform(F.split(F.col(text_col), r"\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    ln = df.select(F.col(id_col), F.explode(lines_arr).alias("__ln__"))
    per_line = ln.groupBy(id_col, "__ln__").agg(F.count(F.lit(1)).alias("__c__"))
    line_stats = (
        per_line.select(
            id_col, "__c__", F.length("__ln__").alias("__len__")
        )
        .groupBy(id_col)
        .agg(
            F.sum("__c__").alias("n_lines"),
            F.count(F.lit(1)).alias("__n_distinct__"),
            F.sum(F.col("__c__") * F.col("__len__")).alias("__chars__"),
            F.sum(
                F.when(F.col("__c__") > 1, F.col("__c__") * F.col("__len__"))
                .otherwise(F.lit(0))
            ).alias("__chars_dup__"),
        )
    )
    words = F.filter(
        F.split(F.regexp_replace(F.col(text_col), r"\n", " "), r"\s+"),
        lambda x: x != "",
    )
    # let-bind the word array (no codegen CSE inside higher-order exprs)
    wdf = df.select(F.col(id_col), words.alias("__w__"))
    n1 = F.greatest(F.size("__w__") - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(F.col("__w__"), F.lit(1), n1),
        F.slice(F.col("__w__"), F.lit(2), n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    word_chars = wdf.select(
        id_col,
        F.aggregate(
            "__w__", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("__wchars__"),
    )
    bg = wdf.select(id_col, F.explode(bigrams).alias("__bg__"))
    bg_counts = bg.groupBy(id_col, "__bg__").agg(F.count(F.lit(1)).alias("__c__"))
    from pyspark.sql.window import Window

    w_top = Window.partitionBy(id_col).orderBy(F.desc("__c__"), F.asc("__bg__"))
    top_bg = (
        bg_counts.withColumn("__rn__", F.row_number().over(w_top))
        .filter(F.col("__rn__") == 1)
        .select(
            id_col,
            (F.col("__c__") * (F.length("__bg__") - 1)).alias("__top_chars__"),
        )
    )
    ppm = "coalesce({num}, 0L) * 1000000L div {den}"
    return (
        df.select(id_col)
        .join(line_stats, id_col, "left")
        .join(top_bg, id_col, "left")
        .join(word_chars, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
            F.expr(
                "CASE WHEN coalesce(n_lines, 0) > 0 THEN "
                + ppm.format(num="n_lines - __n_distinct__", den="n_lines")
                + " ELSE 0L END"
            ).alias("dup_line_ppm"),
            F.expr(
                "CASE WHEN coalesce(__chars__, 0) > 0 THEN "
                + ppm.format(num="__chars_dup__", den="__chars__")
                + " ELSE 0L END"
            ).alias("dup_char_ppm"),
            F.expr(
                "CASE WHEN coalesce(__wchars__, 0) > 0 THEN "
                + ppm.format(num="__top_chars__", den="__wchars__")
                + " ELSE 0L END"
            ).alias("top_bigram_ppm"),
        )
    )


def token_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Whitespace token count + a BPE-ish regex token count (letter runs,
    digit runs, single symbols) — the standard pre-tokenizer shape."""
    return df.withColumn(
        "ws_tokens", F.size(tokens(text_col))
    ).withColumn(
        "bpe_ish_tokens",
        F.size(F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)")),
    )


def bottom_k_fingerprint(
    df: DataFrame, id_col: str, text_col: str, k_gram: int = 8, k: int = 4
) -> DataFrame:
    """Winnowing-style document fingerprint: md5 of the k lexicographically
    smallest distinct char k-gram hashes. Robust to local edits; docs with
    the same fingerprint are near-dup candidates. One explode + groupBy."""
    from peskas_timor_data_pipeline_spark.llm.dedup import _spread, char_shingles

    grams = _spread(df).select(
        F.col(id_col), F.explode(char_shingles(text_col, k_gram, "g")).alias("g")
    ).distinct()
    hashed = grams.select(id_col, F.md5("g").alias("h"))
    collected = hashed.groupBy(id_col).agg(
        F.slice(F.sort_array(F.collect_set("h")), 1, k).alias("bottom")
    )
    return collected.select(
        F.col(id_col),
        F.md5(F.concat_ws("", "bottom")).alias("fingerprint"),
    )


# conservative patterns valid in BOTH Java regex (Spark) and RE2 (DuckDB):
# no backreferences, no lookaround
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\+?[0-9]{3}[- ]?[0-9]{3,4}[- ]?[0-9]{3,4}"


def redact_pii(
    df: DataFrame,
    text_col: str,
    out_col: str = "redacted",
    email_token: str = "<EMAIL>",
    phone_token: str = "<PHONE>",
) -> DataFrame:
    """Training-data hygiene: mask email addresses and phone-shaped number
    runs, and count the redactions per document. Pure regexp_replace /
    regexp_count column expressions — JVM-side, codegen-friendly, and the
    patterns are dialect-portable so the oracle applies the same strings."""
    t = F.col(text_col)
    n_emails = F.regexp_count(t, F.lit(EMAIL_RE))
    masked_email = F.regexp_replace(t, EMAIL_RE, email_token)
    n_phones = F.regexp_count(masked_email, F.lit(PHONE_RE))
    return df.select(
        "*",
        F.regexp_replace(masked_email, PHONE_RE, phone_token).alias(out_col),
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 64,
    stride: int = 32,
) -> DataFrame:
    """Split documents into token-window chunks (the training/RAG context
    prep step): chunk i covers tokens ``[i*stride, i*stride + chunk_tokens)``
    over the whitespace tokenization; with ``stride < chunk_tokens``
    consecutive chunks overlap by ``chunk_tokens - stride`` tokens. Starts
    are generated while they land on a real token, so every token is covered
    and trailing chunks may be short. Zero-token docs produce no chunks.

    Scale shape: a pure narrow transformation — tokenize, generate starts,
    posexplode, slice — entirely inside whole-stage codegen with NO shuffle;
    the row expansion factor is bounded by n_tokens/stride. Requires
    ``stride <= chunk_tokens`` (full coverage, no skipped tokens).

    Returns (id, chunk_id, n_tokens, chunk_text).
    """
    if stride <= 0 or chunk_tokens <= 0 or stride > chunk_tokens:
        raise ValueError("need 0 < stride <= chunk_tokens")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    toks = F.filter(toks, lambda t: t != "")
    n = F.size(toks)
    starts = F.when(n > 0, F.transform(
        F.sequence(F.lit(0), F.floor((n - 1) / stride).cast("int")),
        lambda i: i * stride,
    )).otherwise(F.array().cast("array<int>"))
    chunked = df.select(
        F.col(id_col),
        toks.alias("__toks__"),
        F.posexplode(starts).alias("chunk_id", "__start__"),
    )
    piece = F.slice(F.col("__toks__"), F.col("__start__") + 1, chunk_tokens)
    return chunked.select(
        id_col,
        "chunk_id",
        F.size(piece).alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def clean_lines(
    df: DataFrame,
    text_col: str,
    min_tokens: int = 3,
    out_col: str = "clean_text",
) -> DataFrame:
    """C4-style line-level cleaning: drop lines with fewer than
    ``min_tokens`` whitespace tokens or no terminal punctuation (.!?"),
    re-join survivors with newlines. Boilerplate (nav menus, cookie
    banners, footers) dies at the line level before any doc-level filter
    sees the text.

    Scale shape: split/filter/array_join higher-order expressions — a pure
    narrow map, no shuffle, no Python."""
    lines = F.split(F.col(text_col), r"\n")
    keep = F.filter(
        lines,
        lambda ln: (
            F.size(F.filter(F.split(F.trim(ln), r"\s+"), lambda t: t != ""))
            >= min_tokens
        )
        & F.trim(ln).rlike(r'[.!?"]$'),
    )
    return df.withColumn(out_col, F.array_join(keep, "\n"))


def pack_sequences(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    budget: int,
    shard_col: str | None = None,
    seed: str = "pack42",
) -> DataFrame:
    """Deterministic sequence packing: assign documents to fixed-budget
    context-window bins (the step between chunking and batch export — a
    packed bin becomes one training sequence with minimal padding).

    Greedy sequential packing in document order: walk the (md5-shuffled)
    docs, keep a running token total, open a new bin whenever the current
    doc would overflow the budget. Oversized docs (> budget) get a bin of
    their own. Expressed as window arithmetic: with the prefix sum ``S_i``
    over ``ceil``-ordered docs, the bin boundary recurrence collapses to
    ``bin_i = floor((S_i - 1) / budget)`` ONLY under exact fill, so instead
    the exact greedy rule runs per shard via ``applyInPandas`` over
    shard-bounded groups (shards are export-sized: thousands of docs), with
    the shard assignment itself a pure md5 map — the corpus-wide work is
    one shuffle on the shard key.

    Returns (shard, id, bin_id, offset_tokens, n_tokens) where
    ``offset_tokens`` is the doc's start inside its bin.
    """
    import pandas as pd

    shard = (
        F.col(shard_col)
        if shard_col
        else (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("#", F.lit(seed), F.col(id_col).cast("string"))),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("long")
            % 64
        )
    )
    ordkey = F.md5(F.concat_ws("~", F.lit(seed), F.col(id_col).cast("string")))
    prepped = df.select(
        shard.alias("shard"),
        F.col(id_col),
        F.col(n_tokens_col).alias("__nt__"),
        ordkey.alias("__ord__"),
    )
    schema = f"shard long, {id_col} long, bin_id long, offset_tokens long, n_tokens long"

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["__ord__", id_col]).reset_index(drop=True)
        bins, offsets = [], []
        cur_bin, cur_fill = 0, 0
        for nt in pdf["__nt__"]:
            nt = int(nt)
            if cur_fill > 0 and cur_fill + nt > budget:
                cur_bin += 1
                cur_fill = 0
            bins.append(cur_bin)
            offsets.append(cur_fill)
            cur_fill += nt
        out = pdf[["shard", id_col]].copy()
        out["bin_id"] = bins
        out["offset_tokens"] = offsets
        out["n_tokens"] = pdf["__nt__"].astype("int64")
        return out

    return prepped.groupBy("shard").applyInPandas(pack, schema=schema)


def mixture_sample(
    df: DataFrame,
    id_col: str,
    group_col: str,
    targets: dict[str, int],
    salt: str = "mix42",
) -> DataFrame:
    """Deterministic mixture (re)sampling: draw at most ``targets[g]`` rows
    from each group — the domain-reweighting step that turns raw crawl
    proportions into a designed training mixture. The "random" draw is an
    md5 order over (salt, id), identical on any engine, so the sampled set
    reproduces bit-for-bit (the repo's seeded-draw discipline).

    Scale shape: one rank window per group (the shuffle is by group; a
    group's rank sort is the standard price of exact-count sampling —
    for approximate quotas at extreme skew, a threshold prefilter over the
    md5 key does the same job without the full sort, same trick as
    pq_adc_topk). Groups absent from ``targets`` are dropped.

    Returns the sampled rows (id, group, sample_rank).
    """
    from pyspark.sql.window import Window

    tgt = F.create_map(
        *[F.lit(x) for kv in targets.items() for x in kv]
    )[F.col(group_col)]
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.concat_ws("#", F.lit(salt), F.col(id_col).cast("string"))),
        F.col(id_col),
    )
    return (
        df.select(id_col, group_col)
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= F.coalesce(tgt, F.lit(0)))
        .select(id_col, group_col, "sample_rank")
    )


def weighted_reservoir_sample(
    df: DataFrame,
    id_col: str,
    group_col: str,
    weight_col: str,
    k: int,
    salt: str = "wres42",
    max_weight: int = 64,
) -> DataFrame:
    """Per-row WEIGHTED sampling without replacement (Efraimidis &
    Spirakis 2006 A-Res), integer-exact: the quality-weighted resampling
    step that mixture_sample's uniform per-group quotas can't express —
    "keep k docs per source, each with probability proportional to its
    own weight" (DSIR-style importance RESAMPLING rather than biased
    top-k; cf. R's sample(prob=) uses in the reference's bootstrap
    machinery, R/model-catch.R's replicate draws).

    A-Res assigns each row the key u^(1/w) (u uniform) and keeps the k
    largest per group. For integer w that key is distributed EXACTLY as
    the max of w independent uniforms (CDF x^w both ways), so the draw is
    realized as the MAX of w seeded 48-bit md5 integers — no ln, no pow,
    no libm whose last-ULP differences could flip a rank between engines
    (the r06 order-dependence discipline applied to sampling). The sample
    reproduces bit-for-bit anywhere md5 exists.

    Scale shape: one explode bounded by ``max_weight`` (mixture weights
    are small integers; larger values saturate, documented), a
    partial-aggregated (group, id) max, one rank window per group — the
    same shuffle shape as mixture_sample. Rows with weight <= 0 never
    sample.

    Returns (group, id, weight, sample_rank), rank 1..k by descending key.
    """
    from pyspark.sql.window import Window

    w_int = F.least(F.col(weight_col).cast("long"), F.lit(max_weight))
    draws = (
        df.select(
            F.col(id_col), F.col(group_col), w_int.alias("__w__")
        )
        .filter(F.col("__w__") > 0)
        .select(
            id_col, group_col, "__w__",
            F.explode(F.expr("sequence(0, __w__ - 1)")).alias("__j__"),
        )
        .select(
            id_col, group_col, "__w__",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "#", F.lit(salt),
                            F.col(id_col).cast("string"),
                            F.col("__j__").cast("string"),
                        )
                    ),
                    1, 12,
                ),
                16, 10,
            ).cast("long").alias("__key__"),
        )
    )
    keyed = draws.groupBy(group_col, id_col).agg(
        F.max("__key__").alias("__key__"), F.max("__w__").alias("weight")
    )
    rank_w = Window.partitionBy(group_col).orderBy(
        F.desc("__key__"), F.asc(id_col)
    )
    return (
        keyed.withColumn("sample_rank", F.row_number().over(rank_w))
        .filter(F.col("sample_rank") <= k)
        .select(group_col, id_col, "weight", "sample_rank")
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lambda_interp: float = 0.75,
) -> DataFrame:
    """Per-document mean interpolated bigram log-probability under the
    corpus's own counts — the stronger stand-in for the LM-perplexity
    quality filter (unigram ignores order; word salad with common words
    fools it, bigrams don't):

        p(w | prev) = λ · c(prev, w)/c(prev) + (1 − λ) · c(w)/T

    Scale shape: ONE tokenize+posexplode, the previous token via a lag
    window partitioned by document (bounded by doc length, no corpus-wide
    sort), then bigram/unigram count tables built with map-side partial
    aggregation and attached by equi-join — no broadcast hint, the vocab
    can be millions of types at corpus scale so AQE picks the strategy.
    Docs with fewer than 2 tokens drop (no bigram evidence).

    Returns (id, n_bigrams, mean_logp).
    """
    from pyspark.sql.window import Window

    toks = df.select(
        id_col,
        F.posexplode(F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")).alias(
            "pos", "token"
        ),
    ).filter(F.col("token") != "")
    wd = Window.partitionBy(id_col).orderBy("pos")
    bg = toks.withColumn("prev", F.lag("token").over(wd)).filter(
        F.col("prev").isNotNull()
    )
    uni = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c_w"))
    total = toks.groupBy().agg(F.count(F.lit(1)).alias("t_total"))
    bi = bg.groupBy("prev", "token").agg(F.count(F.lit(1)).alias("c_bg"))
    prev_c = uni.select(F.col("token").alias("prev"), F.col("c_w").alias("c_prev"))
    lam = F.lit(float(lambda_interp))
    # bi/prev_c/uni are vocabulary-sized aggregates of the token frame
    # they rejoin — keep them off the broadcast path (post-aggregate size
    # estimates fool broadcast election; the d7c class, r11)
    scored = (
        bg.join(bi.hint("shuffle_hash"), ["prev", "token"])
        .join(prev_c.hint("shuffle_hash"), "prev")
        .join(uni.hint("shuffle_hash"), "token")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "__lp__",
            F.log(
                lam * F.col("c_bg") / F.col("c_prev")
                + (F.lit(1.0) - lam) * F.col("c_w") / F.col("t_total")
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("__lp__"), 6).alias("mean_logp"),
    )


def quality_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    head: float = 0.3,
    middle: float = 0.7,
) -> DataFrame:
    """CCNet-style per-group quality tiers (Wenzek et al. 2020 bucket the
    crawl into head/middle/tail thirds by language-model perplexity; the
    head trains the model, the tail gets dropped). The score here is the
    integer common-token mass — the sum over a document's tokens of each
    token's corpus-wide frequency — a monotone stand-in for "how typical is
    this document" that stays INTEGER-exact, so ranks can never flip on
    float summation order between engines.

    Tiering is by per-group rank: the top ``head`` fraction (ties broken
    by id) is 'head', through ``middle`` is 'middle', the rest 'tail'.

    Scale shape: the token frequency table is one groupBy on the token
    (partial-aggregated); scoring joins the token long-frame back on the
    same token key — two shuffles on a vocab-bounded key, never pairwise.
    The rank is a window partitioned by group, i.e. a per-group sort: fine
    while groups (crawl dumps, sources) are few and large; for extreme
    group cardinality-with-skew, swap the rank for value thresholds from
    exact/approx score percentiles — bucket semantics then follow score
    values instead of rank positions.

    Returns (id, group, score, bucket).
    """
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col),
        F.col(group_col),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("__tok__"),
    ).filter(F.col("__tok__") != "")
    freq = toks.groupBy("__tok__").agg(F.count(F.lit(1)).alias("__freq__"))
    # freq is a vocabulary-sized aggregate of toks (d7c class, r11)
    scored = (
        toks.join(freq.hint("shuffle_hash"), "__tok__")
        .groupBy(id_col, group_col)
        .agg(F.sum("__freq__").alias("score"))
    )
    # left join back so token-less documents still land in 'tail' with 0
    base = df.select(id_col, group_col).join(scored, [id_col, group_col], "left")
    base = base.withColumn("score", F.coalesce("score", F.lit(0)))
    w = Window.partitionBy(group_col).orderBy(F.desc("score"), F.asc(id_col))
    wn = Window.partitionBy(group_col)
    ranked = base.withColumn("__rn__", F.row_number().over(w)).withColumn(
        "__n__", F.count(F.lit(1)).over(wn)
    )
    bucket = (
        F.when(F.col("__rn__") <= F.lit(float(head)) * F.col("__n__"), "head")
        .when(F.col("__rn__") <= F.lit(float(middle)) * F.col("__n__"), "middle")
        .otherwise("tail")
    )
    return ranked.select(
        id_col, group_col, "score", bucket.alias("bucket")
    )


# unicode punctuation folded to ASCII by normalize_text: curly quotes,
# en/em dashes, NBSP. (source_char, replacement) — applied as replace()
# chains so the exact same sequence is replayable in the SQL oracle.
NORMALIZE_FOLD = (
    ("“", '"'), ("”", '"'), ("‘", "'"), ("’", "'"),
    ("–", "-"), ("—", "-"), (" ", " "),
)


def normalize_text(
    df: DataFrame, text_col: str, out_col: str = "norm_text"
) -> DataFrame:
    """Deterministic text normalization — the first pass of every corpus
    pipeline (a library-free NFKC-lite): lowercase, fold curly
    quotes/dashes/NBSP to ASCII, replace C0/DEL control characters with
    spaces, collapse whitespace runs, trim. Pure column expressions
    (replace chain + two regexes), shuffle-free, and byte-replayable in
    any engine — run it BEFORE hashing/shingling so exact dedup catches
    smart-quote variants of the same text.
    """
    c = F.lower(F.col(text_col))
    for src, dst in NORMALIZE_FOLD:
        c = F.replace(c, F.lit(src), F.lit(dst))
    c = F.regexp_replace(c, "[\\x00-\\x1f\\x7f]", " ")
    c = F.trim(F.regexp_replace(c, "\\s+", " "))
    return df.withColumn(out_col, c)


def bpe_train_merges(
    df: DataFrame,
    token_col: str,
    n_merges: int = 3,
) -> DataFrame:
    """Byte-pair-encoding merge training on the corpus (Sennrich et al.
    2016): start from character symbols, repeat ``n_merges`` times: count
    adjacent symbol pairs corpus-wide (frequency-weighted), pick the most
    frequent pair (count desc, pair asc tie-break), fuse it everywhere.
    This is the tokenizer-TRAINING loop — the part that actually needs the
    cluster, since every step is a full-corpus weighted pair count.

    Merge application detail (documented, engine-identical): fusing uses a
    space-delimited scan-replace, which consumes the separator after each
    match, so an odd run like ``a a a`` fuses to ``aa a`` and the scan
    resumes AFTER the gap — canonical BPE would also fuse the next run
    (``a a a a`` -> here ``aa a a``, canonical ``aa aa``). Both engines
    implement the same non-overlapping scan, the choice is deterministic,
    and merge RANKING (the trained artifact) is unaffected for the
    dominant non-run pairs.

    Scale shape: per step, ONE distinct-token pair explode (weighted by
    token frequency, so corpus volume collapses to vocabulary size before
    any per-step work), one partial-aggregated count, one
    TakeOrderedAndProject top-1 broadcast back. The symbolized vocabulary
    is materialized between steps so step k never recomputes steps 1..k-1.

    Returns (step, pair, merged, pair_count) — the ranked merge table, the
    artifact a tokenizer ships.
    """
    from peskas_timor_data_pipeline_spark.llm.ckpt import materialize

    vocab = df.groupBy(token_col).agg(F.count(F.lit(1)).alias("__w__"))
    cur = vocab.select(
        "__w__",
        F.trim(F.regexp_replace(F.col(token_col), "(.)", "$1 ")).alias("__sym__"),
    )
    merge_rows = []
    for step in range(1, n_merges + 1):
        cur = materialize(cur)
        arr = F.split(F.col("__sym__"), " ")
        pairs = (
            cur.filter(F.size(arr) >= 2)
            .select(
                "__w__",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size(arr) - 2),
                        lambda i: F.concat(
                            F.element_at(arr, i + 1),
                            F.lit(" "),
                            F.element_at(arr, i + 2),
                        ),
                    )
                ).alias("pair"),
            )
        )
        counts = pairs.groupBy("pair").agg(F.sum("__w__").alias("pair_count"))
        top = materialize(counts.orderBy(F.desc("pair_count"), F.asc("pair")).limit(1))
        merge_rows.append(
            top.select(
                F.lit(step).alias("step"),
                "pair",
                F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("merged"),
                "pair_count",
            )
        )
        cur = cur.crossJoin(F.broadcast(top.select(F.col("pair").alias("__p__")))).select(
            "__w__",
            F.trim(
                F.replace(
                    F.concat(F.lit(" "), F.col("__sym__"), F.lit(" ")),
                    F.concat(F.lit(" "), F.col("__p__"), F.lit(" ")),
                    F.concat(
                        F.lit(" "),
                        F.replace(F.col("__p__"), F.lit(" "), F.lit("")),
                        F.lit(" "),
                    ),
                )
            ).alias("__sym__"),
        )
    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionByName(m)
    return out


def bm25_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[tuple[int, list[str]]],
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranked retrieval: per query (a small fixed term set, the serving
    shape), the top-k documents under Lucene-style BM25 —
    ``idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))`` and
    ``tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))``.

    The length-normalized ranked-retrieval complement to the flat TF-IDF
    scoring pass; the ops a sparse-retrieval serving path needs.

    Scale shape: ONE shuffle builds the (doc, term) term-frequency table;
    doc lengths and corpus stats are aggregates over it (partial-agg +
    1-row broadcast). The query-term list broadcasts and prunes the
    postings BEFORE any scoring or ranking, so the ranked frame is
    |queries| x |docs containing a query term| — never corpus x queries.
    Ties rank by ascending doc id (stable across engines).
    """
    spark = docs.sparkSession
    tf = (
        docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = tf.groupBy(id_col).agg(F.sum("tf").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    qt = local_frame(
        spark,
        "query_id long, term string",
        [(qid, t) for qid, terms in query_terms for t in terms],
    )
    dfreq = (
        tf.join(F.broadcast(qt.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tf_norm = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(qt), "term")
        .join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", id_col)
        .agg(F.sum(idf * tf_norm).alias("__s__"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("__s__"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "rank", F.round("__s__", 6).alias("score"))
    )


def bpe_encode(
    df: DataFrame,
    token_col: str,
    merges: DataFrame,
    n_merges: int,
    out_col: str = "bpe_sym",
) -> DataFrame:
    """Apply a trained BPE merge table (``bpe_train_merges`` output) to
    tokens, in rank order — the tokenizer's SERVING path. Each step fuses
    that step's pair with the exact same space-delimited scan-replace the
    training loop used, so train-then-encode round-trips are symbol-exact
    (including the documented separator-consumption run behavior).

    Scale shape: call this on the DISTINCT token vocabulary and join back
    to the corpus (vocabulary-collapse — encode |V| strings, not |corpus|
    tokens). The merge table is the shipped KB-scale artifact: it is
    materialized once here (a reliable checkpoint when the session sets
    a location, see ``llm/ckpt.py``) and each step's single-row pair
    broadcasts; nothing about the corpus is shuffled by the encode itself.

    Adds ``out_col`` (space-delimited symbol string) and ``n_pieces``.
    """
    from peskas_timor_data_pipeline_spark.llm.ckpt import materialize

    merges = materialize(merges)
    cur = df.withColumn(
        out_col, F.trim(F.regexp_replace(F.col(token_col), "(.)", "$1 "))
    )
    for step in range(1, n_merges + 1):
        p = merges.filter(F.col("step") == F.lit(step)).select(
            F.col("pair").alias("__p__")
        )
        cur = (
            cur.crossJoin(F.broadcast(p))
            .withColumn(
                out_col,
                F.trim(
                    F.replace(
                        F.concat(F.lit(" "), F.col(out_col), F.lit(" ")),
                        F.concat(F.lit(" "), F.col("__p__"), F.lit(" ")),
                        F.concat(
                            F.lit(" "),
                            F.replace(F.col("__p__"), F.lit(" "), F.lit("")),
                            F.lit(" "),
                        ),
                    )
                ),
            )
            .drop("__p__")
        )
    return cur.withColumn(
        "n_pieces", F.size(F.split(F.col(out_col), " ")).cast("int")
    )


def dsir_select(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_col: str,
    k: int = 20,
) -> DataFrame:
    """DSIR-style importance selection (Xie et al. 2023, simplified to the
    bag-of-words core): score every non-target document by the mean
    per-token log-likelihood ratio between an add-1-smoothed unigram LM of
    the TARGET slice (``target_col`` boolean) and one of the full corpus,
    then keep the top-k — "find me more data that looks like my domain".

    Scale shape: token counts are two partial-aggregated groupBys over ONE
    tokenize pass; the two LM scalars (total tokens, vocab size) broadcast
    as 1-row frames; scoring is a token-keyed equi-join (AQE-sized — the
    vocab can be millions of types) followed by a per-doc partial
    aggregate and one global top-k (TakeOrderedAndProject-shaped window).
    Smoothed probabilities are exact integer ratios, so the only float
    surface is the ln sum, rounded.

    Returns (rank, id, n_tokens, avg_logratio) for the k selected docs.
    """
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col),
        F.col(target_col).alias("__tgt__"),
        F.explode(tokens(text_col)).alias("token"),
    ).filter(F.col("token") != "")
    raw_counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.sum(F.when(F.col("__tgt__"), 1).otherwise(0)).alias("c_tgt"),
    )
    totals = raw_counts.agg(
        F.sum("c_raw").alias("t_raw"),
        F.sum("c_tgt").alias("t_tgt"),
        F.count(F.lit(1)).alias("v"),
    )
    delta = (
        F.log((F.col("c_tgt") + 1) / (F.col("t_tgt") + F.col("v")))
        - F.log((F.col("c_raw") + 1) / (F.col("t_raw") + F.col("v")))
    )
    scored = (
        toks.filter(~F.col("__tgt__"))
        # raw_counts is vocabulary-sized (d7c class, r11)
        .join(raw_counts.hint("shuffle_hash"), "token")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.sum(delta) / F.count(F.lit(1)), 6).alias("avg_logratio"),
        )
    )
    # distributed partial top-k first (TakeOrderedAndProject), then the
    # rank window runs over k rows only — never a corpus-wide single sort
    top = scored.orderBy(F.desc("avg_logratio"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("avg_logratio"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "rank", id_col, "n_tokens", "avg_logratio"
    )


def kneser_ney_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    discount: float = 0.75,
) -> DataFrame:
    """Per-document mean interpolated Kneser-Ney bigram log-probability
    under the corpus's own counts — the closest relational analogue of the
    KenLM-perplexity quality filter used by CCNet/CCNet-descendant corpora
    (Wenzek et al. 2020): unlike plain interpolation (``bigram_logprob``),
    the backoff mass goes to CONTINUATION probability (how many distinct
    contexts a word follows) rather than raw frequency, so "Francisco"
    (frequent but only ever after "San") stops looking like a good
    unigram everywhere:

        p_kn(w | prev) = max(c(prev,w) − D, 0) / c(prev·)
                         + D · N1+(prev,·)/c(prev·) · N1+(·,w)/N1+(··)

    with absolute discount ``D``, ``c(prev·)`` the bigram-token count of
    the context, ``N1+(prev,·)`` the distinct continuations of the
    context, ``N1+(·,w)`` the distinct contexts of the word and
    ``N1+(··)`` the total number of distinct bigram types.

    Every model quantity is an exact integer count — the four count
    tables all derive from ONE bigram-type aggregation — so the only
    float surface is the final log, and the per-doc mean is rounded.

    Scale shape: one tokenize+posexplode, the context via a lag window
    bounded by document length, then a single (prev, token) partial
    aggregation whose re-aggregations (by prev, by token, global) are all
    tiny relative to the corpus; scoring re-attaches the model by
    (prev, token) equi-join with no broadcast hint — the bigram-type
    table can be billions of rows at corpus scale, so AQE picks the
    join strategy. Docs with fewer than 2 tokens drop (no bigram
    evidence).

    Returns (id, n_bigrams, mean_logp_kn).
    """
    from pyspark.sql.window import Window

    toks = df.select(
        id_col,
        F.posexplode(F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")).alias(
            "pos", "token"
        ),
    ).filter(F.col("token") != "")
    wd = Window.partitionBy(id_col).orderBy("pos")
    bg = toks.withColumn("prev", F.lag("token").over(wd)).filter(
        F.col("prev").isNotNull()
    )
    # the single model aggregation: bigram types with counts; everything
    # else (context totals, continuation fan-ins, type count) folds from it
    bi = bg.groupBy("prev", "token").agg(F.count(F.lit(1)).alias("c_bg"))
    ctx = bi.groupBy("prev").agg(
        F.sum("c_bg").alias("c_prev"),
        F.count(F.lit(1)).alias("n_follow"),
    )
    cont = bi.groupBy("token").agg(F.count(F.lit(1)).alias("n_prec"))
    nbb = bi.groupBy().agg(F.count(F.lit(1)).alias("n_bb"))
    d = F.lit(float(discount))
    p_kn = (
        F.greatest(F.col("c_bg") - d, F.lit(0.0)) / F.col("c_prev")
        + d * F.col("n_follow") / F.col("c_prev")
        * F.col("n_prec") / F.col("n_bb")
    )
    # bi/ctx/cont are vocabulary-sized aggregates (d7c class, r11)
    scored = (
        bg.join(bi.hint("shuffle_hash"), ["prev", "token"])
        .join(ctx.hint("shuffle_hash"), "prev")
        .join(cont.hint("shuffle_hash"), "token")
        .crossJoin(F.broadcast(nbb))
        .withColumn("__lp__", F.log(p_kn))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("__lp__"), 6).alias("mean_logp_kn"),
    )


def temperature_mixture_weights(
    df: DataFrame,
    group_col: str,
    text_col: str,
) -> DataFrame:
    """Temperature-based source-mixture weights (the multilingual-LM
    sampling scheme of mBERT/XLM-R/mT5): upsample small sources and
    downsample dominant ones by sampling source i proportionally to
    p_i^alpha instead of its natural share p_i. This implementation pins
    alpha = 1/2 (sampling temperature tau = 2) because sqrt is the one
    power IEEE-754 requires to be correctly rounded — both engines
    produce the bit-identical double, leaving no cross-engine pow()
    divergence surface; an arbitrary-alpha variant would need an
    engine-pinned pow implementation to stay hash-stable.

    Scale shape: token counting is one partial-aggregated groupBy on the
    source key (the corpus's rows never shuffle anywhere else); the
    resulting frame is source-cardinality-sized, so the share
    normalization (one-row total broadcast) is free at any corpus scale.

    Returns (group, n_tokens, natural_ppm, temperature_ppm, boost_milli)
    where the ppm columns are integer parts-per-million shares and
    boost_milli = 1000 * temperature_share / natural_share (>1000 means
    the source is upsampled).
    """
    per_src = (
        df.select(F.col(group_col), F.explode(tokens(text_col)).alias("token"))
        .filter(F.col("token") != "")
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n_tokens"))
    )
    totals = per_src.agg(
        F.sum("n_tokens").alias("t_all"),
        F.sum(F.sqrt(F.col("n_tokens").cast("double"))).alias("t_sqrt"),
    )
    out = per_src.crossJoin(F.broadcast(totals)).select(
        group_col,
        "n_tokens",
        F.round(F.lit(1000000.0) * F.col("n_tokens") / F.col("t_all"))
        .cast("long")
        .alias("natural_ppm"),
        F.round(
            F.lit(1000000.0)
            * F.sqrt(F.col("n_tokens").cast("double"))
            / F.col("t_sqrt")
        )
        .cast("long")
        .alias("temperature_ppm"),
        F.round(
            F.lit(1000.0)
            * (F.sqrt(F.col("n_tokens").cast("double")) / F.col("t_sqrt"))
            / (F.col("n_tokens") / F.col("t_all"))
        )
        .cast("long")
        .alias("boost_milli"),
    )
    return out


def source_diversity(
    df: DataFrame,
    group_col: str,
    text_col: str,
) -> DataFrame:
    """Per-source lexical-diversity report: token/type counts, type-token
    ratio, hapax share, and unigram Shannon entropy — the standard corpus
    diagnostics for spotting template farms (low entropy, low TTR) and
    OCR noise (hapax explosion) before training.

    Entropy uses the identity H = ln(N) − (Σ c·ln c)/N, so it needs no
    per-term probability: ONE aggregation over the per-source count
    table computes Σc and Σ c·ln c together. The count table itself is
    one partial-aggregated groupBy on (source, token); corpus rows cross
    the shuffle exactly once.

    Returns (group, n_tokens, n_types, hapax_types, ttr_ppm, hapax_ppm,
    entropy_nats).
    """
    counts = (
        df.select(F.col(group_col), F.explode(tokens(text_col)).alias("token"))
        .filter(F.col("token") != "")
        .groupBy(group_col, "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = counts.groupBy(group_col).agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias(
            "hapax_types"
        ),
        F.sum(F.col("c") * F.log(F.col("c"))).alias("__clnc__"),
    )
    return agg.select(
        group_col,
        "n_tokens",
        "n_types",
        "hapax_types",
        F.round(F.lit(1000000.0) * F.col("n_types") / F.col("n_tokens"))
        .cast("long")
        .alias("ttr_ppm"),
        F.round(F.lit(1000000.0) * F.col("hapax_types") / F.col("n_types"))
        .cast("long")
        .alias("hapax_ppm"),
        F.round(
            F.log(F.col("n_tokens")) - F.col("__clnc__") / F.col("n_tokens"), 6
        ).alias("entropy_nats"),
    )


# URL grammar shared by the extractor and its DuckDB oracle twin: scheme,
# host (letters/digits/dots/dashes), optional path of printable-ASCII
# chars. Kept inside the Java-regex/RE2 COMMON SUBSET (no backrefs, no
# lookaround) — and no \\s shorthand either: Java's \\s includes U+000B
# vertical tab, RE2's does not, so `[^\\s]*` would extract different path
# spans per engine on VT-bearing text. The explicit `[!-~]` range
# (printable ASCII minus space) means the same thing to both engines;
# non-ASCII path bytes are %-encoded in real URLs anyway.
URL_PATTERN = r"https?://[A-Za-z0-9.-]+(/[!-~]*)?"


def canonical_url(url: Column) -> Column:
    """Canonical form of one URL column — the CommonCrawl-style dedup key:
    lowercase, scheme stripped, leading ``www.`` stripped, query/fragment
    dropped, trailing slash trimmed. Pure regexp_replace chain (JVM-side,
    whole-stage codegen; each step is a fixed anchored pattern)."""
    c = F.lower(url)
    c = F.regexp_replace(c, "^https?://", "")
    c = F.regexp_replace(c, "^www\\.", "")
    c = F.regexp_replace(c, "[?#].*$", "")
    return F.regexp_replace(c, "/$", "")


def extract_canonical_urls(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, url, canonical, host) long frame of URLs found in the text —
    the upstream of URL-level dedup, per-domain corpus accounting, and
    domain blocklist joins in a crawl pipeline. One regexp_extract_all +
    explode (the only row-expanding step; bounded by URL count, not text
    length), then the canonicalization chain and a substring_index for the
    host — no shuffle at all until the caller aggregates.

    Canonical-key caveat: scheme, www-prefix, query and fragment are
    treated as identity-free (http://www.a.com/x?q=1 == https://a.com/x),
    the usual crawl-dedup convention; ports and %-escapes pass through
    untouched."""
    urls = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(URL_PATTERN), F.lit(0))
        ).alias("url"),
    )
    canon = canonical_url(F.col("url"))
    return urls.select(
        id_col,
        "url",
        canon.alias("canonical"),
        F.substring_index(canon, "/", 1).alias("host"),
    )


def pmi_collocations(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 5,
) -> DataFrame:
    """Pointwise-mutual-information collocations over adjacent token
    pairs — the classic corpus-linguistics multiword-expression miner
    (Church & Hanks 1990), used in training-data pipelines to surface
    boilerplate phrases and tokenizer-merge candidates.
    PMI(w1,w2) = ln(c12 * N / (c1 * c2)) with all four counts EXACT
    integers; the single ln sits on integer inputs and is rounded at 6dp
    (the t40/t15 house convention for cross-engine libm surfaces).

    Shape: one token explode (the widest step, linear in corpus tokens),
    bigrams via a length-offset self-zip inside the same row (no join),
    then three partial-aggregated counts joined on vocabulary-sized keys.
    ``min_count`` prunes the bigram tail BEFORE the unigram joins, so the
    join fan-in is the frequent-bigram set, not the corpus.

    Returns (w1, w2, c12, c1, c2, pmi) for bigrams with c12 >= min_count.

    Empty-string tokens (from leading/trailing whitespace in the split)
    are dropped BEFORE adjacency is formed — '' is not a token, and
    keeping it would both pollute the collocate list and break adjacency
    across a document's leading whitespace (same filter zipf_slope
    applies to its unigram counts).
    """
    filtered = df.select(
        F.col(id_col),
        F.filter(tokens(text_col), lambda t: t != F.lit("")).alias("__t__"),
    )
    toks = filtered.filter(F.size("__t__") >= 2)
    bigrams = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(__t__) - 1),"
                " i -> struct(__t__[i - 1] AS w1, __t__[i] AS w2))"
            )
        ).alias("__bg__")
    ).select("__bg__.w1", "__bg__.w2")
    unigrams = filtered.select(
        F.explode("__t__").alias("w")
    ).groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    big = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= min_count)
    )
    n_tokens = unigrams.agg(F.sum("c").alias("__n__"))
    return (
        # unigrams is vocabulary-sized (d7c class, r11)
        big.join(unigrams.withColumnRenamed("w", "w1")
                 .withColumnRenamed("c", "c1").hint("shuffle_hash"), "w1")
        .join(unigrams.withColumnRenamed("w", "w2")
              .withColumnRenamed("c", "c2").hint("shuffle_hash"), "w2")
        .crossJoin(F.broadcast(n_tokens))
        .select(
            "w1", "w2",
            F.col("c12").cast("long").alias("c12"),
            F.col("c1").cast("long").alias("c1"),
            F.col("c2").cast("long").alias("c2"),
            F.round(
                F.log(
                    F.col("c12").cast("double") * F.col("__n__").cast("double")
                    / (F.col("c1").cast("double") * F.col("c2").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def zipf_slope(
    df: DataFrame,
    text_col: str,
    top_r: int = 100,
) -> DataFrame:
    """Zipf-law fit over the rank-frequency curve: OLS of ln(freq) on
    ln(rank) for the ``top_r`` most frequent types — the vocabulary
    health check of corpus QA (natural text sits near slope -1; synthetic
    or template-heavy corpora drift flat or cliff off). A 100-row
    regression is dimension-sized by construction, so ranking and the fit
    cost nothing next to the one token-count aggregation.

    Determinism: ranks are integers over (freq desc, token asc); the
    per-point lns are fixed per-row IEEE expressions; the four OLS sums
    are folded over the rank-sorted collected array (the a39 pinned-fold
    idiom — float addition is not associative, so the order is pinned
    explicitly on both engines).

    Returns one row: (n_points, sum checks, slope, intercept), slope and
    intercept rounded 6dp.
    """
    from pyspark.sql.window import Window

    counts = (
        df.select(F.explode(tokens(text_col)).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # orderBy().limit() compiles to TakeOrderedAndProject (per-partition
    # top-R + driver merge — no global sort shuffle), so the full
    # vocabulary never lands on one partition; the rank window then runs
    # on the R-row result only
    w = Window.orderBy(F.col("freq").desc(), F.col("tok").asc())
    top = (
        counts.orderBy(F.col("freq").desc(), F.col("tok").asc())
        .limit(top_r)
        .withColumn("rank", F.row_number().over(w))
    )
    pts = top.select(
        F.col("rank"),
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    folded = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.expr(
            "aggregate(sort_array(collect_list(struct(rank, x, y))), 0D,"
            " (a, s) -> a + s.x)"
        ).alias("sx"),
        F.expr(
            "aggregate(sort_array(collect_list(struct(rank, x, y))), 0D,"
            " (a, s) -> a + s.y)"
        ).alias("sy"),
        F.expr(
            "aggregate(sort_array(collect_list(struct(rank, x, y))), 0D,"
            " (a, s) -> a + s.x * s.y)"
        ).alias("sxy"),
        F.expr(
            "aggregate(sort_array(collect_list(struct(rank, x, y))), 0D,"
            " (a, s) -> a + s.x * s.x)"
        ).alias("sxx"),
    )
    n = F.col("n_points").cast("double")
    denom = n * F.col("sxx") - F.col("sx") * F.col("sx")
    # empty/degenerate input (fewer than 2 distinct ranks) leaves the OLS
    # system singular: NULL fit, not an ANSI divide-by-zero
    slope = F.when(
        denom != 0.0,
        (n * F.col("sxy") - F.col("sx") * F.col("sy")) / denom,
    )
    return folded.select(
        "n_points",
        F.round(slope, 6).alias("slope"),
        F.round(
            F.when(n > 0, (F.col("sy") - slope * F.col("sx")) / n), 6
        ).alias("intercept"),
    )


def js_divergence(
    corpus_a: DataFrame,
    corpus_b: DataFrame,
    text_col: str,
) -> DataFrame:
    """Jensen-Shannon divergence between two corpora's unigram
    distributions — the standard symmetric, bounded (<= ln 2) drift
    measure for training-data mixtures: did the new crawl slice's token
    distribution move against the reference corpus / does domain A's
    vocabulary usage diverge from domain B's? (Lin 1991.)

    JSD = 0.5*KL(P||M) + 0.5*KL(Q||M) with M = (P+Q)/2 over the UNION
    vocabulary; zero-count terms contribute 0 by the 0*ln(0) = 0
    convention, and M > 0 wherever either side has mass, so no smoothing
    is needed (unlike plain KL, which is infinite on vocabulary gaps).

    Shape: two token explodes -> two partial-aggregated count tables ->
    ONE full-outer join on the vocabulary key -> broadcast totals -> one
    aggregation. No UDFs, no driver-side state beyond the two totals.

    Determinism: the per-token terms are ln-bearing doubles, so the
    reduction uses the house scale-and-round idiom (per-row
    floor(term*1e9 + 0.5) -> exact integer sum -> one divide+round),
    making the fold order-independent on both engines; per-row ln inputs
    are ratios of exact integers, identical IEEE on both sides.

    Returns one row: (vocab_size, n_tokens_a, n_tokens_b, jsd_nats).
    """
    def counts(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(F.explode(tokens(text_col)).alias("w"))
            .filter(F.col("w") != "")
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias(name))
        )

    from peskas_timor_data_pipeline_spark.llm.ckpt import materialize

    ca = counts(corpus_a, "ca")
    cb = counts(corpus_b, "cb")
    # the joined count table feeds BOTH the totals and the final
    # aggregation — materialize once (vocabulary-sized) or the two token
    # explodes and the outer join run twice
    j = materialize(
        ca.join(cb, "w", "full_outer")
        .select(
            "w",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    tot = j.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
    )
    p = F.col("ca") / F.col("na")
    q = F.col("cb") / F.col("nb")
    m = (p + q) / F.lit(2.0)
    term_a = F.when(F.col("ca") > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
    term_b = F.when(F.col("cb") > 0, q * F.log(q / m)).otherwise(F.lit(0.0))

    def nano_sum(term: Column) -> Column:
        return F.sum(
            F.floor(term * F.lit(1_000_000_000.0) + F.lit(0.5)).cast("bigint")
        )

    return (
        j.crossJoin(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).cast("long").alias("vocab_size"),
            F.max("na").alias("n_tokens_a"),
            F.max("nb").alias("n_tokens_b"),
            nano_sum(term_a).alias("__sa__"),
            nano_sum(term_b).alias("__sb__"),
        )
        .select(
            "vocab_size",
            "n_tokens_a",
            "n_tokens_b",
            F.round(
                (F.col("__sa__") + F.col("__sb__"))
                / F.lit(2_000_000_000.0),
                6,
            ).alias("jsd_nats"),
        )
    )


def readability_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Flesch reading-ease readability scoring (T46) — the standard
    cheap complexity gate in corpus-quality stacks (C4/Gopher-style
    filters bucket documents by readability before expensive model
    scoring). Flesch RE = 206.835 - 1.015*(words/sentences) -
    84.6*(syllables/words), with the usual dictionary-free syllable
    proxy: vowel-group runs per word, floored at one per word (Flesch
    1948; the vowel-run proxy is the textstat convention).

    Engine-portable counting rules (identical Java-regex / RE2
    semantics, the t42 lesson):
    - words: maximal runs of non-whitespace, ``[^ \\t\\n]+``
    - sentences: maximal runs of ``[.!?]``, floored at one
    - syllables: per word, count of ``[aeiouy]+`` runs in the
      lowercased word, floored at one (so "rhythm" counts 1, not 0)

    Shape: everything is one projection — regexp_extract_all +
    transform/aggregate over the word array, all inside whole-stage
    codegen; no UDF, no shuffle beyond the caller's. The per-word
    floor forces the per-document transform() pass; its lambda reads
    each word once (no repeated re-lowering of the document — the CDC
    inlining trap doesn't apply because the lambda input is the
    already-split word).

    Returns (id, n_words, n_sentences, n_syllables, flesch, band)
    with flesch one fixed IEEE expression over exact integer counts,
    rounded 6dp; empty/whitespace-only texts emit NULL score. Bands
    follow the conventional 30/50/60/70/80/90 cut points.
    """
    words = F.expr(
        f"regexp_extract_all(lower({text_col}), '[^ \\\\t\\\\n]+', 0)"
    )
    n_words = F.size(words).cast("long")
    n_sentences = F.greatest(
        F.regexp_count(F.col(text_col), F.lit("[.!?]+")).cast("long"),
        F.lit(1).cast("long"),
    )
    n_syllables = F.aggregate(
        F.transform(
            words,
            lambda w: F.greatest(
                F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), F.lit(0))),
                F.lit(1),
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, s: acc + s,
    )
    base = df.select(
        F.col(id_col).alias("id"),
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        n_syllables.alias("n_syllables"),
    )
    ok = F.col("n_words") > 0
    flesch = (
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("n_words").cast("double") / F.col("n_sentences"))
        - F.lit(84.6)
        * (F.col("n_syllables").cast("double") / F.col("n_words"))
    )
    return base.select(
        "id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.when(ok, F.round(flesch, 6)).alias("flesch"),
        F.when(
            ok,
            F.when(flesch >= 90, F.lit("very_easy"))
            .when(flesch >= 80, F.lit("easy"))
            .when(flesch >= 70, F.lit("fairly_easy"))
            .when(flesch >= 60, F.lit("standard"))
            .when(flesch >= 50, F.lit("fairly_hard"))
            .when(flesch >= 30, F.lit("hard"))
            .otherwise(F.lit("very_hard")),
        ).alias("band"),
    )


def good_turing_coverage(
    df: DataFrame,
    text_col: str,
    max_r: int = 5,
) -> DataFrame:
    """Good-Turing coverage and smoothed low counts (T47; Good 1953) —
    the corpus-completeness statistic: the singleton share S(1)/N is an
    unbiased estimate of the probability mass of UNSEEN vocabulary, so
    ``coverage`` answers "how much of this domain's distribution has the
    crawl actually captured", and r* = (r+1)S(r+1)/S(r) gives the
    smoothed rare-type counts LM estimators use in place of raw r.

    Shape: the t26 spectrum chain (token explode -> type counts ->
    frequency-of-frequencies, two partial-aggregated groupBys — corpus
    rows never reach the spectrum shuffle), then everything lives on
    the spectrum frame: totals are one aggregate, the r+1 lookup is a
    self-join of the <= max_r slice, both broadcast-sized. Every
    statistic is exact-integer counts with single guarded IEEE
    divisions (SURVEY §7.4).

    Returns one row per r in 1..``max_r``: (r, s_r, s_r1, r_star,
    n_tokens, n_types, missing_mass, coverage) — s_r the type count at
    frequency r (0 when absent), r_star NULL when undefined.
    """
    from peskas_timor_data_pipeline_spark.llm.ckpt import materialize

    spark = df.sparkSession
    toks = df.select(
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    )
    spectrum = materialize(
        counts.groupBy("freq").agg(
            F.count(F.lit(1)).cast("long").alias("n_types")
        )
    )
    totals = spectrum.agg(
        F.sum(F.col("freq") * F.col("n_types")).cast("long").alias("n_tokens"),
        F.sum("n_types").cast("long").alias("n_types_total"),
        F.coalesce(
            F.sum(F.when(F.col("freq") == 1, F.col("n_types"))), F.lit(0)
        ).cast("long").alias("s1"),
    )
    grid = spark.range(1, int(max_r) + 1).select(F.col("id").alias("r"))
    sr = spectrum.withColumnRenamed("freq", "r")
    sr1 = spectrum.select(
        (F.col("freq") - 1).alias("r"), F.col("n_types").alias("s_r1_raw")
    )
    rows = (
        grid.join(sr, "r", "left")
        .join(sr1, "r", "left")
        .select(
            "r",
            F.coalesce("n_types", F.lit(0)).cast("long").alias("s_r"),
            F.coalesce("s_r1_raw", F.lit(0)).cast("long").alias("s_r1"),
        )
    )
    mm = F.col("s1").cast("double") / F.col("n_tokens")
    return (
        rows.crossJoin(F.broadcast(totals))
        .select(
            "r",
            "s_r",
            "s_r1",
            F.when(
                (F.col("s_r") > 0) & (F.col("s_r1") > 0),
                F.round(
                    (F.col("r") + 1).cast("double") * F.col("s_r1")
                    / F.col("s_r"),
                    6,
                ),
            ).alias("r_star"),
            "n_tokens",
            F.col("n_types_total").alias("n_types"),
            F.when(F.col("n_tokens") > 0, F.round(mm, 6)).alias("missing_mass"),
            F.when(F.col("n_tokens") > 0, F.round(F.lit(1.0) - mm, 6)).alias(
                "coverage"
            ),
        )
    )
