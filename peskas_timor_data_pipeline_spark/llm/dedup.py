"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

All hashing is md5 column expressions so results are deterministic,
partition-stable, and reproducible on any engine (the correctness oracle
recomputes them in DuckDB).

Scale notes:
- exact dedup is one shuffle on the content hash
- MinHash signatures are a single explode + groupBy(doc) pass; LSH pairing
  shuffles on band keys, so cluster skew (a viral duplicate) is bounded by
  the band bucket, not the corpus
- verification (true Jaccard) runs only on LSH candidates, never all pairs
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from peskas_timor_data_pipeline_spark.llm.ckpt import (
    materialize,
    materialize_many,
)


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's default parallelism before an
    explode: partition sizing happens pre-explode (a few parquet splits), so
    without this the k*len(text) shingle expansion runs on 2-3 tasks."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _grams_sql(x: str, k: int) -> str:
    """SQL for the array of character k-grams of the SQL expression ``x``
    in start order (empty for NULL or too-short text) — the one gram
    kernel of this module.

    Each regex match consumes one code point and captures the ``k`` code
    points that start there, so element i (0-based) is
    ``substring(x, i + 1, k)``, in time linear in the text. A walk of
    ``substring(x, i, k)`` over ``sequence(1, len - k + 1)`` gives the
    same array, but Spark 4.1's ``UTF8String.substring`` scans from byte 0
    to reach position i, so that costs O(len²) per text. The consuming
    ``.`` is required: with the lookahead alone, ``(?=(.{k}))``, a match
    can start on the low half of a surrogate pair."""
    return f"coalesce(regexp_extract_all({x}, '(?s)(?=(.{{{k}}})).', 1), array())"


def _gram_key(gram_col: str) -> Column:
    """A gram's 60-bit integer key: its md5's first 15 hex chars. Joins and
    distincts then shuffle longs instead of k-char strings; the oracles
    slice the same digest (``('0x' || substr(md5(g), 1, 15))::BIGINT``)."""
    return F.conv(F.substring(F.md5(gram_col), 1, 15), 16, 10).cast("long")


def char_shingles(text_col: str, k: int = 5, out_col: str = "shingle") -> Column:
    """Array of the character k-grams of ``lower(text)`` in start order:
    a gram per code point but the last k - 1, empty for NULL or
    too-short texts."""
    return F.expr(_grams_sql(f"lower({text_col})", k)).alias(out_col)


def exact_dedup(
    df: DataFrame, id_col: str, content_cols: list[str]
) -> DataFrame:
    """Exact duplicate removal by content hash: survivor = min id per hash
    (deterministic). Adds ``n_dups`` = group size. One shuffle on the hash."""
    h = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in content_cols]))
    hashed = df.withColumn("__h__", h)
    survivors = hashed.groupBy("__h__").agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_dups")
    )
    return survivors.join(hashed, [id_col, "__h__"]).drop("__h__")


MINHASH_WIDTH = 8  # hex chars per sub-hash (32 bits)


def shingle_rows(
    df: DataFrame, id_col: str, text_col: str, k_shingle: int = 5
) -> DataFrame:
    """(id, sh) long frame of the character k-grams of ``lower(text)``
    (:func:`char_shingles`) — the shared upstream of MinHash signatures
    and Jaccard verification. Callers running both should
    compute this ONCE (and ``ckpt.materialize`` it) so the explode — the widest
    intermediate in the dedup pipeline — is a single pass over the corpus.

    Gram-identity caveat: this helper lowers the WHOLE text before slicing,
    while :func:`shingle_rows_with_pos` lowers each raw k-char slice (it
    must, to keep positions exact — see its docstring). For texts with
    length-EXPANDING lowercase mappings (e.g. U+0130 'İ' → 2 codepoints)
    the two emit different gram keys (and the positioned variant can emit
    k+1-char grams), so grams from the two helpers must never be joined
    against each other. Every current consumer uses exactly one of the two."""
    return _spread(df).select(
        F.col(id_col), F.explode(char_shingles(text_col, k_shingle)).alias("sh")
    )


def minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 6,
    k_shingle: int = 5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per document: h_j = min over shingles of the j-th
    8-hex-char slice of a concatenated md5 digest chain
    (md5(sh||'#0') || md5(sh||'#1') || ...).

    String-min over hex slices is a valid permutation-min (the slice is the
    "random permutation"); slicing one digest chain into ``n_hashes``
    32-bit sub-hashes needs ceil(n_hashes/4) md5 calls per shingle instead
    of n_hashes — the md5 in the post-explode hot path is the dominant
    CPU cost at scale. Identical in any engine with md5 (the oracle slices
    the same chain).

    Shape: one explode + one groupBy(doc). The groupBy partial-aggregates
    map-side, so the shuffle carries one row per (doc, partition) — the
    explode itself never crosses the wire. (A "narrow" higher-order
    rewrite — per-row transform + 16× array_min — was measured 3× SLOWER:
    CollapseProject inlines the shared digest-chain subexpression into
    every array_min, recomputing the md5s n_hashes times. Exploding is the
    idiom that lets Spark evaluate the chain exactly once per shingle.)

    The per-slot min runs on the hex slice CONVERTED TO A LONG, converted
    back to the identical lowercase hex afterwards (r10): min over STRING
    buffers can't use whole-stage-codegen HashAggregate — it compiles to
    ObjectHashAggregate, which falls back to SORT-BASED aggregation past a
    ~128-key in-memory map, i.e. it sorts the ENTIRE exploded shingle x
    digest frame (CORPUSBENCH_r10 first capture: 20-35 GB spilled at 500k
    docs, all of the pipeline's spill). Fixed-width lowercase hex has
    ASCII order == numeric order, so the long-min picks the same slice and
    lpad(lower(hex(.)), 8) reproduces the exact bytes — signatures, store
    artifacts, and oracle hashes are unchanged, but the aggregate is a
    fixed-width hash aggregate with map-side partials and zero spill.

    Each digest is read as two signed 64-bit words
    (``conv(substring(md5, 1|17, 16), 16, -10)``) and slot j is the high
    (``shiftrightunsigned(w, 32)``) or low (``w & 0xffffffff``) half of
    its word: the same 32-bit values the hex slices give, bit for bit.
    Slicing the 128-char concatenated chain instead cost one ``conv`` per
    slot and one ``substring`` that walks from byte 0 to the slice start
    (Spark 4.1's ``UTF8String.substring`` has no ASCII fast path): about
    half of the executor samples of the d18 query went to those two calls.
    The words take half the ``conv`` calls and no walk longer than 32
    chars. When the function shingles by itself it explodes
    ``array_distinct`` of each text's shingles, since a min over the set
    equals the min over the multiset (the sf0.01 corpus: 500 docs, 147,174
    shingles, 102,511 distinct (doc, shingle) pairs). Signature +
    a local checkpoint on it, ``n_hashes=16``, 4 cores, median of 10
    alternations in one JVM: 1014 ms with the slices, 668 ms with the
    words and ``array_distinct``."""
    n_md5 = -(-n_hashes * MINHASH_WIDTH // 32)  # ceil
    per_word = 64 // (4 * MINHASH_WIDTH)  # 32-bit slots per 64-bit word
    if shingles is None:
        shingles = _spread(df).select(
            F.col(id_col),
            F.explode(
                F.expr(f"array_distinct({_grams_sql(f'lower({text_col})', k_shingle)})")
            ).alias("sh"),
        )
    # expr-string construction (r11): identical parsed trees, one py4j
    # round-trip per expression instead of ~4-6 per slot
    digests = shingles.select(
        id_col,
        *[F.expr(f"md5(concat(sh, '#{k}')) AS __d{k}__") for k in range(n_md5)],
    )
    words = digests.select(
        id_col,
        *[
            F.expr(
                f"CAST(conv(substring(__d{k}__, {1 + 16 * i}, 16), 16, -10)"
                f" AS BIGINT) AS __w{2 * k + i}__"
            )
            for k in range(n_md5)
            for i in range(2)
        ],
    )

    def slot(j: int) -> str:
        w, r = divmod(j, per_word)
        if r == 0:
            return f"shiftrightunsigned(__w{w}__, 32)"
        return f"(__w{w}__ & 4294967295)"

    aggs = [F.expr(f"min({slot(j)}) AS __hl{j}__") for j in range(n_hashes)]
    back = [
        F.expr(
            f"lpad(lower(hex(__hl{j}__)), {MINHASH_WIDTH}, '0') AS h{j}"
        )
        for j in range(n_hashes)
    ]
    return words.groupBy(id_col).agg(*aggs).select(id_col, *back)


def band_rows(
    signatures: DataFrame,
    id_col: str,
    n_hashes: int,
    band_size: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, band_key[, *carry]) long frame of LSH band bucket keys — the
    shared upstream of candidate pairing, the duplication-rate scout, the
    bucket-cap policy, and (with ``carry``) the persistable band store
    whose rows keep the signature columns alongside each key."""
    n_bands = n_hashes // band_size
    # expr-string construction (r11): identical parsed trees, fewer py4j
    # round-trips
    bands = [
        F.expr(
            f"md5(concat_ws('|', '{b}', "
            + ", ".join(f"h{b * band_size + i}" for i in range(band_size))
            + f")) AS band{b}"
        )
        for b in range(n_bands)
    ]
    return signatures.select(F.col(id_col), *carry, *bands).select(
        id_col,
        *carry,
        F.explode(
            F.expr(
                "array(" + ", ".join(f"band{b}" for b in range(n_bands)) + ")"
            )
        ).alias("band_key"),
    )


def bucket_cap_from_scout(
    signatures: DataFrame,
    id_col: str,
    n_hashes: int = 6,
    band_size: int = 2,
    pair_budget_per_row: int = 8,
) -> int | None:
    """Turn the d15-style bucket-size histogram into the ``bucket_cap``
    for :func:`lsh_candidate_pairs` — the missing link between scouting a
    new crawl slice and actually scheduling its dedup pass.

    Policy: emitted pair count is sum over buckets of C(s,2) below the
    cap plus (s-1) star pairs above it — monotone increasing in the cap.
    Pick the LARGEST cap whose total stays within ``pair_budget_per_row``
    pairs per band row (i.e. O(budget x corpus) total work, the linear
    bound a 100 TB pass must hold); return None when exact pairing
    already fits, so normal corpora keep exact recall with no policy
    applied. The decision reads only the bucket-size HISTOGRAM (distinct
    sizes x counts — vocabulary-sized), so the driver-side choice is a
    config decision on a tiny aggregate, not a data-path collect."""
    sizes = (
        band_rows(signatures, id_col, n_hashes, band_size)
        .groupBy("band_key")
        .agg(F.count(F.lit(1)).alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("buckets"))
    )
    hist = sorted((r["s"], r["buckets"]) for r in sizes.collect())
    if not hist:
        return None
    total_rows = sum(s * c for s, c in hist)
    budget = pair_budget_per_row * total_rows
    if sum(s * (s - 1) // 2 * c for s, c in hist) <= budget:
        return None
    best = 1  # f(1) = sum(s-1) <= total_rows <= budget always
    for cap, _ in hist:
        f = sum(
            (s * (s - 1) // 2 if s <= cap else (s - 1)) * c for s, c in hist
        )
        if f <= budget:
            best = max(best, cap)
    return best


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    n_hashes: int = 6,
    band_size: int = 2,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Band the signature (rows of ``band_size`` hashes), bucket-join on
    band keys, emit distinct candidate pairs (a < b). Only bucket-mates
    pair up — never an all-pairs product.

    ``bucket_cap`` is the hot-bucket skew policy (None keeps exact
    all-bucket-mate pairing): a bucket of n members emits n(n-1)/2 pairs,
    so ONE hot key (a million boilerplate near-identical docs landing in
    the same band bucket) turns the self-join quadratic — the classic
    100 TB LSH failure. With a cap, buckets over the cap switch to STAR
    pairing: every member pairs with the bucket's representative (min id)
    only — n-1 pairs, linear. Dedup semantics survive because the
    downstream use is connected-components clustering
    (llm/cluster.py::duplicate_clusters): the star keeps every member in
    one component with the representative, so cluster membership — and
    therefore which docs get dropped — is unchanged; only the per-pair
    Jaccard audit trail for non-representative pairs inside hot buckets is
    thinned. Under-cap buckets are bit-for-bit the exact pairing, so
    recall on a normal corpus is untouched (property-tested). Size the
    cap from d15_dup_rate_scout's colliding-bucket mass estimate.
    The cap adds one partial-aggregated groupBy on band_key (same shuffle
    key the pair join already uses)."""
    long = band_rows(signatures, id_col, n_hashes, band_size)
    # the pair join is a self-join: without materialization the whole
    # signature lineage (shingle explode + n_hashes mins) computes twice.
    # Measured r12: gating this cut off at toy scale made d2/d18 ~0.3-0.5s
    # SLOWER (the two join sides do not share one Exchange after the
    # id_a/id_b renames), so it stays unconditional.
    long = materialize(long)
    if bucket_cap is not None:
        stats = long.groupBy("band_key").agg(
            F.count(F.lit(1)).alias("__n__"), F.min(id_col).alias("__rep__")
        )
        tagged = long.join(stats, "band_key")
        small = tagged.filter(F.col("__n__") <= bucket_cap)
        a = small.select(F.col(id_col).alias("id_a"), "band_key")
        b = small.select(F.col(id_col).alias("id_b"), "band_key")
        exact = (
            a.join(b, "band_key")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        star = (
            tagged.filter(
                (F.col("__n__") > bucket_cap) & (F.col(id_col) != F.col("__rep__"))
            )
            .select(
                F.col("__rep__").alias("id_a"), F.col(id_col).alias("id_b")
            )
        )
        return exact.unionByName(star).distinct()
    a = long.select(F.col(id_col).alias("id_a"), "band_key")
    b = long.select(F.col(id_col).alias("id_b"), "band_key")
    return (
        a.join(b, "band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def bbit_minhash_jaccard(
    sigs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    n_hashes: int,
    b: int = 2,
) -> DataFrame:
    """Jaccard estimation over candidate pairs from b-BIT minhash
    signatures (Li & Koenig 2010, "b-Bit Minwise Hashing") — the
    signature-STORAGE scale path: keeping only the lowest ``b`` bits of
    each 32-bit minhash shrinks the signature store 32/b-fold (16x at
    b=2), which at 100 TB is the difference between signatures that fit
    in executor memory for the verification join and ones that don't.
    The price is collision noise with a known correction: a b-bit slot
    agrees with probability J + (1-J)/2^b, so
    J = (agree_frac - 2^-b) / (1 - 2^-b), here in EXACT integer ppm:
    ``(n_agree * 2^b - n) * 1e6 div (n * (2^b - 1))`` (signed — sampling
    noise below the collision floor reports negative, by design).
    The full-width estimate ``n_agree_full * 1e6 div n`` is emitted
    alongside for calibration.

    Scale shape: two equi-joins of the (LSH-linear) candidate pairs to
    the signature frame — the pair side is the small one post-LSH, so
    AQE broadcasts it; nothing pairwise beyond the already-banded
    candidates; all-integer outputs (the r06 engine-exactness
    discipline applied to estimation). Callers should MATERIALIZE the
    signature frame first when it also feeds the LSH banding: this
    function references it twice and the banding a third time, and
    without a lineage cut each reference re-runs the full
    shingle-explode + md5-chain build (the e17/pagerank lesson)."""
    mask = 1 << b

    def bb(col: str) -> str:
        return f"CAST(conv({col}, 16, 10) AS BIGINT) % {mask}"

    # expr-string construction (r11): identical parsed trees (incl. Python
    # sum()'s leading int-0 seed), one py4j round-trip per chain
    a = sigs.select(
        F.col(id_col).alias("id_a"),
        *[F.expr(f"h{j} AS __a{j}__") for j in range(n_hashes)],
    )
    bsig = sigs.select(
        F.col(id_col).alias("id_b"),
        *[F.expr(f"h{j} AS __b{j}__") for j in range(n_hashes)],
    )
    joined = pairs.join(a, "id_a").join(bsig, "id_b")
    agree_full = F.expr(
        "CAST(0 + " + " + ".join(
            f"(CASE WHEN __a{j}__ = __b{j}__ THEN 1 ELSE 0 END)"
            for j in range(n_hashes)
        ) + " AS BIGINT)"
    )
    agree_b = F.expr(
        "CAST(0 + " + " + ".join(
            f"(CASE WHEN {bb(f'__a{j}__')} = {bb(f'__b{j}__')}"
            " THEN 1 ELSE 0 END)"
            for j in range(n_hashes)
        ) + " AS BIGINT)"
    )
    # est_bbit can be negative, where Spark's `div` truncates toward zero
    # but DuckDB's `//` floors — floor over an exact double division keeps
    # the two engines identical on both signs (numerators are small ints,
    # the division is the same IEEE op everywhere)
    est_bbit = F.floor(
        ((agree_b * mask - n_hashes) * 1000000).cast("double")
        / (n_hashes * (mask - 1))
    ).cast("long")
    est_full = F.floor(
        (agree_full * 1000000).cast("double") / n_hashes
    ).cast("long")
    return joined.select(
        "id_a", "id_b",
        agree_full.alias("n_agree_full"),
        agree_b.alias("n_agree_bbit"),
        est_full.alias("est_full_ppm"),
        est_bbit.alias("est_bbit_ppm"),
    )


def ngram_jaccard(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """True Jaccard similarity over distinct char k-gram sets for the given
    candidate pairs: |A ∩ B| / |A ∪ B|. Joins shingle sets only for
    candidates (LSH verification pass), and — when building its own
    shingles — only for documents that APPEAR in a candidate pair
    (semi-join): the expensive explode touches the usually-tiny candidate
    population, not the corpus.

    ``pairs`` and the shingle sets are each referenced several times in the
    join tree; persist them so the (expensive) upstream lineage — MinHash,
    LSH banding, the explode — is computed once, not per reference."""
    pairs = materialize(pairs)
    if shingles is None:
        pair_ids = (
            pairs.select(F.col("id_a").alias(id_col))
            .union(pairs.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        shingles = shingle_rows(
            docs.join(pair_ids, id_col, "left_semi"), id_col, text_col, k_shingle
        )
    sets = materialize(shingles.distinct())
    sizes = sets.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    a_sets = sets.select(F.col(id_col).alias("id_a"), F.col("sh"))
    b_sets = sets.select(F.col(id_col).alias("id_b"), F.col("sh"))
    inter = (
        pairs.join(a_sets, "id_a").join(b_sets, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .fillna(0, subset=["n_inter"])
        .join(sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b")), "id_b")
    )
    return out.withColumn(
        "jaccard",
        F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
    )


_HEX_DIGIT_CASE = (
    "CASE {c} "
    + " ".join(f"WHEN '{d:x}' THEN {d}" for d in range(16))
    + " END"
)


def simhash_bits_sql(hash_col: str = "tokh", n_bits: int = 16) -> list[str]:
    """Engine-portable SQL for a SimHash over whitespace tokens.

    ``hash_col`` holds the PRE-COMPUTED md5 hex of each token (hoisted so
    the digest is computed once, not once per bit aggregate). Each hex
    char supplies 4 bits; SimHash bit b = sign of sum over tokens of
    (2*bit_b - 1). Returns one SQL expression per bit, valid verbatim in
    both Spark SQL and DuckDB, so the oracle is the same string.
    """
    exprs = []
    for b in range(n_bits):
        char_idx = b // 4 + 1  # 1-based position in md5 hex
        bit_in_char = b % 4
        digit = _HEX_DIGIT_CASE.format(c=f"substring({hash_col}, {char_idx}, 1)")
        exprs.append(
            f"CASE WHEN sum(2 * (CAST(floor(({digit}) / {2 ** bit_in_char}) AS BIGINT) % 2) - 1) >= 0"
            f" THEN '1' ELSE '0' END"
        )
    return exprs


def simhash(df: DataFrame, id_col: str, text_col: str, n_bits: int = 16) -> DataFrame:
    """SimHash per document as an ``n_bits``-char bit string column
    ``simhash``. Tokens = whitespace split; explode + one groupBy(doc)."""
    toks = (
        _spread(df)
        .select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .withColumn("tokh", F.md5("tok"))
    )
    bit_exprs = simhash_bits_sql("tokh", n_bits)
    aggs = [F.expr(e).alias(f"b{i}") for i, e in enumerate(bit_exprs)]
    sig = toks.groupBy(id_col).agg(*aggs)
    return sig.select(
        F.col(id_col),
        F.concat(*[F.col(f"b{i}") for i in range(n_bits)]).alias("simhash"),
    )


def decontaminate(
    eval_df: DataFrame,
    train_df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 16,
) -> DataFrame:
    """Train->eval contamination check (the decontamination pass every
    training-data pipeline runs before shipping an eval set): for each eval
    doc, how many of its distinct character k-grams appear ANYWHERE in the
    training corpus.

    Scale shape: both sides reduce to distinct grams BEFORE the join — the
    train side to a bare gram set, the eval side to (doc, gram) — so the
    big-big equi-join on the gram shuffles each distinct gram once, with
    map-side partial distinct; nothing is quadratic in corpus size. The
    hit/total counts come out of the SAME join pass (left join + conditional
    sum), not a second scan.

    Returns (id, n_grams, n_hit, contam_share, contaminated).
    """
    ev = shingle_rows(eval_df, id_col, text_col, k_shingle).distinct()
    train_grams = (
        shingle_rows(train_df, id_col, text_col, k_shingle)
        .select("sh")
        .distinct()
        .withColumn("__hit__", F.lit(1))
    )
    per_doc = (
        ev.join(train_grams, "sh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("__hit__"), F.lit(0)).alias("n_hit"),
        )
    )
    return (
        eval_df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(
                F.when(
                    F.col("n_grams") > 0, F.col("n_hit") / F.col("n_grams")
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("contam_share"),
            (F.coalesce("n_hit", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def repeated_gram_share(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 32,
) -> DataFrame:
    """Intra-corpus repeated-span detection — the cheap relative of exact
    substring dedup (suffix-array style): a LONG character k-gram (k=32+)
    appearing in more than one document almost certainly marks copied
    boilerplate (headers, licenses, templated spans). Per document, report
    how many of its distinct k-grams are shared with ANY other document.

    Scale shape: one explode to distinct (doc, gram), ONE aggregation on
    the gram computing both the document count and (via min) a witness
    doc, then a gram-keyed join back — each distinct gram crosses the wire
    twice, nothing pairwise, no per-document comparisons. Filtering rows
    with ``dup_ppm`` above a threshold is the standard "drop templated
    docs" gate; the gram join also yields the span positions if a masker
    needs them.

    Returns (id, n_grams, n_shared, dup_ppm) where ``dup_ppm`` is the
    shared-gram share in exact integer parts-per-million
    (``n_shared * 1_000_000 div n_grams`` — pure integer arithmetic, so
    the value is bit-identical across engines; a float share rounded to
    6 dp was hash-unstable in CORRECTNESS_r03).
    """
    grams = shingle_rows(df, id_col, text_col, k_shingle).distinct()
    gram_docs = grams.groupBy("sh").agg(
        F.count(F.lit(1)).alias("__docs__")
    )
    per_doc = (
        # gram_docs is a same-key aggregate of grams — corpus-sized, but
        # its post-aggregate size ESTIMATE can fool broadcast election
        # (compressed stats << deserialized hash table; a vanilla 1g
        # driver OOMed at sf0.1, r11). shuffle_hash pins the scale-safe
        # plan: co-partitioned on the sh exchange both sides already
        # share, no sort, no driver materialization.
        grams.join(gram_docs.hint("shuffle_hash"), "sh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("__docs__") > 1, 1).otherwise(0)).alias("n_shared"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            F.when(
                F.col("n_grams") > 0,
                F.expr("n_shared * 1000000L div n_grams"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("dup_ppm"),
        )
    )


def hamming_neardup_pairs(
    hashes: DataFrame,
    id_col: str,
    hash_col: str = "dhash",
    n_bits: int = 56,
    n_bands: int = 4,
    max_hamming: int = 6,
) -> DataFrame:
    """Near-duplicate pairs over a compact bit fingerprint (SimHash /
    image dHash) via banded hamming LSH: split the ``n_bits`` hash into
    ``n_bands`` contiguous bit bands, bucket-join ids sharing ANY exact
    band, then verify candidates with the true hamming distance
    (``bit_count(a XOR b)``). Pigeonhole guarantee: any pair within
    ``n_bands - 1`` differing bits shares at least one identical band, so
    recall is exact for distances < n_bands; beyond that it degrades
    gracefully (the standard SimHash-dedup construction).

    Scale shape: band bucketing is one narrow explode (n_bands rows per
    id, each an int band value), candidates come from an equi-join on
    (band index, band value) — never all-pairs — and the verify touches
    candidates only. Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    width = n_bits // n_bands
    mask = (1 << width) - 1
    bands = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.shiftright(F.col(hash_col), b * width)
                    .bitwiseAND(F.lit(mask))
                    .alias("band_val"),
                )
                for b in range(n_bands)
            ]
        )
    ).alias("band")
    long = hashes.select(id_col, hash_col, bands).select(
        id_col, hash_col, "band.band_idx", "band.band_val"
    )
    a = long.select(
        F.col(id_col).alias("id_a"), F.col(hash_col).alias("__ha__"),
        "band_idx", "band_val",
    )
    b = long.select(
        F.col(id_col).alias("id_b"), F.col(hash_col).alias("__hb__"),
        "band_idx", "band_val",
    )
    cands = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__ha__", "__hb__")
        .distinct()
    )
    return (
        cands.withColumn(
            "hamming",
            F.bit_count(F.col("__ha__").bitwiseXOR(F.col("__hb__"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def cross_source_overlap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    prefix_tokens: int | None = None,
) -> DataFrame:
    """Inter-source exact-duplication matrix — the dataset-curation
    diagnostic run before mixing crawl dumps / snapshots: for every pair
    of sources, how many distinct content fingerprints they share, and
    the overlap coefficient |A ∩ B| / min(|A|, |B|).

    Scale shape: content md5 per row (map-side), ONE distinct on (hash,
    source), a hash-keyed self-join whose fan-out is bounded by the
    number of sources carrying each hash (never all-pairs over rows), and
    a pair-complete spine so absent overlap reports as 0 rather than a
    missing row. Sources are dimension-scale; rows are not.

    ``prefix_tokens``: fingerprint the first N tokens instead of the full
    text — the leading-boilerplate / shared-template detector (full-text
    md5 only catches byte-exact duplication).
    """
    if prefix_tokens is None:
        fp = F.md5(F.lower(F.col(text_col)))
    else:
        fp = F.md5(
            F.array_join(
                F.slice(
                    F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
                    1,
                    prefix_tokens,
                ),
                " ",
            )
        )
    hs = (
        df.select(fp.alias("__h__"), F.col(source_col).alias("__s__"))
        .distinct()
    )
    sizes = hs.groupBy("__s__").agg(F.count(F.lit(1)).alias("__n__"))
    a = hs.select(F.col("__h__"), F.col("__s__").alias("source_a"))
    b = hs.select(F.col("__h__"), F.col("__s__").alias("source_b"))
    shared = (
        a.join(b, "__h__")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    srcs = sizes.select(F.col("__s__").alias("source_a"), F.col("__n__").alias("n_a"))
    srcs_b = sizes.select(F.col("__s__").alias("source_b"), F.col("__n__").alias("n_b"))
    spine = srcs.crossJoin(F.broadcast(srcs_b)).filter(
        F.col("source_a") < F.col("source_b")
    )
    return (
        spine.join(shared, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            "n_a",
            "n_b",
            F.round(
                F.coalesce("n_shared", F.lit(0))
                / F.least("n_a", "n_b").cast("double"),
                6,
            ).alias("overlap_coeff"),
        )
    )


def segment_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_words: int = 10,
) -> DataFrame:
    """Corpus-level exact segment dedup — the WRITER-side relative of
    ``repeated_gram_share`` (which only scores): split every document into
    consecutive ``seg_words``-word segments, keep only the globally FIRST
    occurrence of each distinct segment (ordered by (id, position)), and
    reassemble each document from its surviving segments. This is exact
    substring dedup at fixed-window granularity (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better") — the pass
    that actually removes boilerplate/templated spans from the training
    corpus rather than just flagging carrier documents.

    Scale shape: segmentation is shuffle-free (split + slice inside one
    projection, then a posexplode in the same stage); the first-occurrence
    decision is lexicographic min over (id, pos) keyed by the segment
    text, computed as TWO chained fixed-width aggregates — ``min(id)``
    per segment, then ``min(pos)`` among the rows carrying that id —
    because ``min(struct(...))`` carries a non-mutable aggregation
    buffer and therefore NEVER hash-aggregates (SortAggregate sorts the
    whole exploded frame; the identical class spilled 35 GB on the
    minhash signature agg at 500k docs before r10's long re-encoding).
    With integral ids every buffer is a mutable long, both aggregates
    are HashAggregate with map-side partials, and all three segment-key
    stages (agg → tie-break agg → rejoin) reuse ONE exchange on the
    segment key — a viral segment costs one hot reduce key, never a
    pairwise expansion. Non-integral ids fall back to the struct-min
    form (same results, documented sort cost). The rebuild is one
    groupBy on the id. Nothing pairwise, no corpus-wide windows.

    Returns (id, n_segs, n_kept, kept_ratio, rebuilt) — ``rebuilt`` is the
    text with every previously-seen segment dropped ('' if nothing
    survives).
    """
    words = F.split(F.col(text_col), r"\s+")
    n = F.size(words)
    seg_arr = F.when(n <= 0, F.array()).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.ceil(n / F.lit(seg_words)).cast("int") - 1),
            lambda p: F.array_join(
                F.slice(words, p * seg_words + 1, seg_words), " "
            ),
        )
    )
    segs = _spread(df).select(
        F.col(id_col), F.posexplode(seg_arr).alias("pos", "seg")
    )
    id_dtype = dict(segs.dtypes)[id_col]
    if id_dtype in ("tinyint", "smallint", "int", "bigint"):
        # hash-aggregable lexicographic min: min(id) per seg, then
        # min(pos) restricted to that id — identical to min(struct) and
        # every stage stays on the segment-key exchange (ReusedExchange)
        min_ids = segs.groupBy("seg").agg(F.min(F.col(id_col)).alias("__fid__"))
        # same-key aggregates of segs: keep them off the broadcast path
        # (segment-cardinality sides; SEGBENCH r11 caught a 137 MB
        # mis-elected broadcast) — shuffle_hash reuses the seg exchange
        firsts = (
            segs.join(min_ids.hint("shuffle_hash"), "seg")
            .filter(F.col(id_col) == F.col("__fid__"))
            .groupBy("seg")
            .agg(
                F.min(F.col(id_col)).alias("__fid__"),
                F.min("pos").alias("__fpos__"),
            )
        )
    else:
        firsts = (
            segs.groupBy("seg")
            .agg(F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__first__"))
            .select(
                "seg",
                F.col(f"__first__.{id_col}").alias("__fid__"),
                F.col("__first__.pos").alias("__fpos__"),
            )
        )
    marked = segs.join(firsts.hint("shuffle_hash"), "seg").withColumn(
        "__keep__",
        (F.col(id_col) == F.col("__fid__")) & (F.col("pos") == F.col("__fpos__")),
    )
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.sum(F.when(F.col("__keep__"), 1).otherwise(0)).alias("n_kept"),
        F.round(
            F.sum(F.when(F.col("__keep__"), 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("kept_ratio"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("__keep__"), F.struct("pos", "seg"))
                    )
                ),
                lambda s: s.seg,
            ),
            " ",
        ).alias("rebuilt"),
    )


def lsh_eval(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n_hashes: int = 16,
    band_size: int = 8,
    k_shingle: int = 5,
) -> DataFrame:
    """Index-tuning gauge for MinHash-LSH (the dedup-side twin of the ANN
    ``topk_recall`` pass): candidate pairs at the given band configuration
    vs the EXACT Jaccard>=threshold ground truth, reported as one
    (n_truth, n_candidates, true_positives, precision, recall) row. Run it
    after every (n_hashes, band_size) change — banding that misses real
    near-dups shows up as recall, banding that floods the verifier shows
    up as precision.

    Ground truth is built from the inverted shingle index (pairs sharing
    at least one k-gram — exact, since Jaccard > 0 requires a shared
    gram), NOT an all-pairs product; its cost is sum(df^2) over shingle
    document frequencies, which is the standard bound for exact
    similarity self-joins. That makes this an EVALUATION harness: run it
    on a sampled audit corpus (how index tuning works at 100 TB), not the
    full crawl.

    The shingle explode happens ONCE and feeds signatures, truth, and
    set sizes (materialized against triple recompute).
    """
    shingles = materialize(shingle_rows(docs, id_col, text_col, k_shingle).distinct())
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    a = shingles.select(F.col(id_col).alias("id_a"), "sh")
    b = shingles.select(F.col(id_col).alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    truth = (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("sa")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("sb")),
            "id_b",
        )
        .filter(
            F.col("n_inter") / (F.col("sa") + F.col("sb") - F.col("n_inter"))
            >= threshold
        )
        .select("id_a", "id_b")
    )
    sigs = minhash_signature(
        docs, id_col, text_col, n_hashes, k_shingle, shingles=shingles
    )
    cand = lsh_candidate_pairs(sigs, id_col, n_hashes, band_size)
    t = truth.withColumn("__t__", F.lit(1))
    c = cand.withColumn("__c__", F.lit(1))
    j = t.join(c, ["id_a", "id_b"], "full_outer")
    return j.agg(
        F.sum("__t__").cast("long").alias("n_truth"),
        F.sum("__c__").cast("long").alias("n_candidates"),
        F.sum(F.col("__t__") * F.col("__c__")).cast("long").alias("true_positives"),
    ).select(
        F.coalesce("n_truth", F.lit(0)).alias("n_truth"),
        F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
        F.coalesce("true_positives", F.lit(0)).alias("true_positives"),
        F.round(
            F.coalesce("true_positives", F.lit(0))
            / F.nullif(F.col("n_candidates"), F.lit(0)),
            6,
        ).alias("precision"),
        F.round(
            F.coalesce("true_positives", F.lit(0))
            / F.nullif(F.col("n_truth"), F.lit(0)),
            6,
        ).alias("recall"),
    )


def cdc_segments(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    mask_hex: int = 1,
) -> DataFrame:
    """Content-defined chunking: cut a document AFTER every position whose
    trailing ``window``-char rolling fingerprint (md5 of the window)
    ends in ``mask_hex`` zero hex digits — expected segment length
    16^mask_hex. Because boundaries depend only on local CONTENT, an
    insertion near the head re-aligns within one window and every
    downstream segment hash survives — the shift tolerance that makes CDC
    the dedup unit for storage/transfer systems (LBFS/rsync lineage),
    where fixed-width segments (``segment_dedup``) all shift and match
    nothing.

    Scale shape: boundaries, bounds array, and segment slicing are ALL
    higher-order array expressions on the row — a narrow, shuffle-free
    map pinned JVM-side; the only post-explode column is the segment
    itself. Emits (id, seg_idx, seg_len, seg_hash) — join/group on
    seg_hash for cross-corpus dedup.
    """
    w1 = window - 1
    zeros = "0" * mask_hex
    # sequence(window, len) DESCENDS when len < window (a doc shorter than
    # one fingerprint window) and would fabricate out-of-range boundaries
    # plus a phantom empty segment — caught by the hypothesis replica test;
    # short docs must produce exactly one whole-text segment
    boundaries = (
        f"if(length({text_col}) < {window}, array(), "
        f"filter(sequence({window}, length({text_col})), "
        f"i -> substr(md5(substr({text_col}, i - {w1}, {window})), "
        f"{33 - mask_hex}, {mask_hex}) = '{zeros}'))"
    )
    bounds = (
        f"array_distinct(concat(array(0), {boundaries}, "
        f"array(length({text_col}))))"
    )
    # The bounds array is LET-BOUND through a single-element transform so
    # the rolling-fingerprint scan appears exactly ONCE in the plan. Naming
    # it via withColumn instead lets CollapseProject inline the whole
    # boundary filter into every element_at reference — measured 84 copies
    # in the optimized plan and a 40x slowdown.
    # (sequence(1, 0) would DESCEND in Spark; the if() guards empty docs.)
    segs = (
        f"flatten(transform(array({bounds}), "
        f"b -> if(size(b) < 2, array(), "
        f"transform(sequence(1, size(b) - 1), "
        f"j -> substr({text_col}, element_at(b, j) + 1, "
        f"element_at(b, j + 1) - element_at(b, j))))))"
    )
    out = _spread(df).select(
        F.col(id_col),
        F.posexplode(F.expr(segs)).alias("seg_idx", "__seg__"),
    )
    return out.select(
        id_col,
        "seg_idx",
        F.length("__seg__").cast("int").alias("seg_len"),
        F.md5("__seg__").alias("seg_hash"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 32,
    min_shared: int = 3,
    max_df: int = 50,
) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup pairs — |grams(A) ∩ grams(B)| /
    |grams(A)| — the measure that catches a short document pasted inside a
    long one, which symmetric Jaccard (d2) under-scores by the size ratio.
    The standard gate when mining quote/excerpt relationships or deciding
    which near-dup of unequal lengths to keep.

    Scale shape: grams are HASHED to 60-bit ints right after the explode
    (16-byte dedup/join keys instead of 40-byte strings — the self-join
    shuffle is the dominant cost; measured 21s -> 9s at sf0.1), and the
    hashed frame is MATERIALIZED because it feeds four plan references
    (sizes, the df cap, both join sides). The md5 hash is identical in
    every engine, so the oracle reproduces any (astronomically rare,
    ~n^2/2^61) collision too. Grams appearing in more than ``max_df``
    documents are DROPPED before the self-join (corpus boilerplate — a
    gram shared by b docs costs b^2 pair rows, so the cap bounds the
    join's fan-out; corpus-wide boilerplate is d7's job). The gram-keyed
    self-join emits only co-occurring pairs, grouped with one
    partial-aggregated count — pair state never exceeds the true overlap
    relation, nothing is all-pairs.

    Returns (id_a, id_b, n_shared, containment_a_ppm, containment_b_ppm)
    for pairs sharing >= ``min_shared`` surviving grams; ppm values are
    exact integers (d7 convention).
    """
    grams = materialize(
        shingle_rows(df, id_col, text_col, k_shingle)
        .select(F.col(id_col), _gram_key("sh").alias("gh"))
        .distinct(),
    )
    sizes = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n__"))
    # Size-gated lineage cut (r12): both self-join sides reference the
    # df-capped frame — at scale the cut stops the df aggregate + cap
    # join running once per side (duplicated subtrees don't share stages
    # under AQE); at toy scale those duplicates run as parallel stages in
    # one job while an eager checkpoint would serialize (+0.8 s at sf0.1
    # measured), so the cut engages on upstream size only. Gate reads the
    # checkpointed grams' REAL stored bytes, not an estimate.
    from peskas_timor_data_pipeline_spark.llm import ckpt

    gram_df = grams.join(
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("__df__"))
        .filter(F.col("__df__") <= max_df)
        .select("gh"),
        "gh",
    )
    if ckpt.materialized_is_big(grams):
        gram_df = materialize(gram_df)
    a = gram_df.select(F.col(id_col).alias("id_a"), "gh")
    b = gram_df.select(F.col(id_col).alias("id_b"), "gh")
    pairs = (
        a.join(b, "gh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("__n__").alias("__na__"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("__n__").alias("__nb__"))
    return (
        pairs.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.expr("n_shared * 1000000L div __na__").alias("containment_a_ppm"),
            F.expr("n_shared * 1000000L div __nb__").alias("containment_b_ppm"),
        )
    )


def bloom_bits(col: Column, k_hashes: int = 3, n_bits: int = 4096) -> Column:
    """The ``k_hashes`` Bloom bit indices of a value as an int array —
    md5-derived, identical in any engine. Shared by filter build and
    probe so both sides hash the same way."""
    slices = [
        F.conv(F.substring(F.md5(F.concat(col.cast("string"), F.lit(f"#b{j}"))), 1, 12), 16, 10)
        .cast("long") % n_bits
        for j in range(k_hashes)
    ]
    return F.array(*[s.cast("int") for s in slices])


def bloom_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    key_col: str,
    k_hashes: int = 3,
    n_bits: int = 4096,
) -> DataFrame:
    """Bloom-filter membership of eval keys against the train set,
    modeled RELATIONALLY: the filter is the distinct (bit_idx) relation
    of the train keys' hash bits; an eval key is flagged iff ALL its k
    bits are present (an inner join + count). No giant bitmap column, no
    UDF — the bit relation is at most ``n_bits`` rows after the distinct
    (constant!), broadcast to the probe side, and filters built on
    different shards/days merge by plain UNION/distinct (the Bloom OR).

    This is d6's exact-decontamination at 100 TB memory cost: the filter
    state is ``n_bits`` bits regardless of train size, at the price of
    deterministic (md5-replayable) false positives — the oracle and both
    engines flag the identical key set.

    Returns eval rows with ``maybe_in_train`` (Bloom verdict: no false
    negatives, deterministic false positives).
    """
    bits = bloom_bits(F.col(key_col), k_hashes, n_bits)
    filter_bits = (
        train.select(F.explode(bits).alias("bit_idx")).distinct()
    )
    probe = eval_df.select(
        F.col(key_col), F.posexplode(bits).alias("__pos__", "bit_idx")
    ).drop("__pos__")
    hits = (
        probe.join(F.broadcast(filter_bits), "bit_idx")
        .groupBy(key_col)
        .agg(F.countDistinct("bit_idx").alias("__hits__"))
    )
    distinct_bits = F.size(F.array_distinct(bits))
    return (
        eval_df.join(hits, key_col, "left")
        .select(
            "*",
            (F.coalesce(F.col("__hits__"), F.lit(0)) == distinct_bits).alias(
                "maybe_in_train"
            ),
        )
        .drop("__hits__")
    )


def shingle_rows_with_pos(
    df: DataFrame, id_col: str, text_col: str, k_shingle: int
) -> DataFrame:
    """(id, pos, sh) long frame of character k-grams WITH their 1-based
    start positions — the positioned variant of :func:`shingle_rows` for
    span-level work (masking, highlighting).

    Positions index the RAW string; case folding applies per k-char gram
    (``lower(g)`` over :func:`_grams_sql` of the raw text). Folding the
    whole text first and slicing that — the r05 form — shifts every
    position after a length-expanding lowercase mapping (U+0130 'İ' lowers
    to 2 codepoints), so downstream maskers hit off-by-N characters
    (ADVICE r05, reproduced). Per-gram folding keeps O(len·k) work, at the
    cost that a gram whose raw slice contains an expanding character folds
    to k+ chars — a gram-identity quirk, not a position error."""
    grams = F.expr(f"transform({_grams_sql(text_col, k_shingle)}, g -> lower(g))")
    return _spread(df).select(
        F.col(id_col), F.posexplode(grams).alias("__p0__", "sh")
    ).select(id_col, (F.col("__p0__") + 1).alias("pos"), "sh")


def repeated_span_mask(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_min: int = 50,
) -> DataFrame:
    """Exact-substring dedup spans (the Lee et al. 2021 "Deduplicating
    Training Data Makes Language Models Better" primitive, seed-gram
    approximation): every character span of length >= ``k_min`` that
    appears in MORE THAN ONE document is reported per document as a merged
    (span_start, span_end) interval, 1-based inclusive, ready for masking.
    Seeds are the k_min-grams shared across docs; overlapping/adjacent
    seed intervals merge into maximal spans via the interval-union island
    sweep — a repeat of length L >= k_min yields L - k_min + 1 consecutive
    seeds that merge back into exactly the [start, start+L-1] span, so
    span RECOVERY is exact for repeats >= k_min (repeats shorter than
    k_min are invisible, by construction — that is the knob).

    Scale shape: one positioned explode, ONE gram aggregation (count of
    distinct docs), a gram-keyed join back to seed positions, then a
    per-doc window sweep — nothing pairwise, no suffix array, no Python.
    The gram hot path carries (id, pos, 8-byte md5-prefix) after the
    projection below, not raw k_min-char strings.

    Returns (id, span_start, span_end) — one row per merged span."""
    from pyspark.sql.window import Window

    pos = shingle_rows_with_pos(df, id_col, text_col, k_min)
    # shuffle longs, not 50-char strings (collision odds over a
    # 10^9-gram corpus ~ 10^18/2^61)
    hashed = pos.select(id_col, "pos", _gram_key("sh").alias("gh"))
    gram_docs = (
        hashed.select(id_col, "gh")
        .distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("__docs__"))
        .filter(F.col("__docs__") > 1)
    )
    seeds = hashed.join(
        gram_docs.select("gh").hint("shuffle_hash"), "gh", "left_semi"
    ).select(
        id_col,
        F.col("pos").alias("s"),
        (F.col("pos") + F.lit(k_min - 1)).alias("e"),
    )
    w_ord = Window.partitionBy(id_col).orderBy("s", "e")
    prev_max_e = F.max("e").over(w_ord.rowsBetween(Window.unboundedPreceding, -1))
    flagged = seeds.withColumn(
        "__new__",
        F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e + 1), 1).otherwise(0),
    ).withColumn(
        "__isl__",
        F.sum("__new__").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return flagged.groupBy(id_col, "__isl__").agg(
        F.min("s").alias("span_start"), F.max("e").alias("span_end")
    ).select(id_col, "span_start", "span_end")


def apply_span_mask(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str = "masked_text",
    fill: str = " ",
) -> DataFrame:
    """Splice the :func:`repeated_span_mask` spans out of each document,
    replacing masked characters with ``fill`` (length-preserving, so
    token offsets in side tables stay valid). The per-doc span list is
    collect_list-bounded BY the span structure itself (merged maximal
    spans cannot overlap, so there are at most len/k_min of them) — the
    same contractual bound that makes w12's session paths safe. Docs with
    no spans pass through unchanged via the left join."""
    sp = spans.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("span_start", "span_end"))).alias(
            "__sp__"
        )
    )
    # one overlay per span folded over the span array — length-preserving
    # in-place splice, no manual prefix/suffix stitching
    masked = F.when(F.col("__sp__").isNull(), F.col(text_col)).otherwise(
        F.aggregate(
            "__sp__",
            F.col(text_col),
            lambda acc, s: F.overlay(
                acc,
                F.repeat(
                    F.lit(fill), (s["span_end"] - s["span_start"] + 1).cast("int")
                ),
                s["span_start"],
            ),
        )
    )
    return df.join(sp, id_col, "left").withColumn(out_col, masked).drop("__sp__")


def lsh_band_recall(
    verified_pairs: DataFrame,
    jaccard_col: str = "jaccard",
    n_hashes: int = 16,
) -> DataFrame:
    """LSH band-config planner: for every (n_bands, band_size) division of
    the ``n_hashes`` signature, the expected candidate recall over the
    corpus's OWN verified near-duplicate pairs — each pair at similarity s
    is caught with probability 1 − (1 − s^r)^b, so the table answers
    "what recall would the bands I am NOT running have achieved on the
    duplicates I actually have". The cost side of the same trade is
    d15's scout (candidate-pair mass); together they bracket the tuning.

    Determinism: both engines evaluate s^r and (1−s^r)^b as the SAME
    binary-squaring multiplication tree (r and b are powers of two for a
    power-of-two signature), never libm pow() — identical IEEE doubles;
    s is rounded first, the per-config mean last.

    Scale shape: one aggregation over the (tiny) verified-pair frame
    computing all configs as parallel partial-aggregated avgs, then a
    constant 5-row stack unpivot. Nothing here touches the corpus.

    Returns (n_bands, band_size, n_pairs, expected_recall).
    """
    assert n_hashes & (n_hashes - 1) == 0, "n_hashes must be a power of two"
    s = F.round(F.col(jaccard_col), 6)
    powers = {1: s}
    e = 2
    while e <= n_hashes:
        powers[e] = powers[e // 2] * powers[e // 2]
        e *= 2
    configs = []
    b = 1
    while b <= n_hashes:
        configs.append((b, n_hashes // b))
        b *= 2

    def p_cand(b: int, r: int) -> Column:
        t = F.lit(1.0) - powers[r]
        tb = {1: t}
        e = 2
        while e <= b:
            tb[e] = tb[e // 2] * tb[e // 2]
            e *= 2
        return F.lit(1.0) - tb[b]

    agg = verified_pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        *[
            F.round(F.avg(p_cand(b, r)), 6).alias(f"p_{b}_{r}")
            for b, r in configs
        ],
    )
    stack_args = ", ".join(f"{b}, {r}, p_{b}_{r}" for b, r in configs)
    return agg.select(
        F.expr(
            f"stack({len(configs)}, {stack_args})"
            " as (n_bands, band_size, expected_recall)"
        ),
        "n_pairs",
    ).select("n_bands", "band_size", "n_pairs", "expected_recall")


def pick_band_config(
    recall_table: DataFrame,
    min_recall: float = 0.95,
) -> tuple[int, int] | None:
    """Consume :func:`lsh_band_recall`'s table the way
    :func:`bucket_cap_from_scout` consumes the d15 scout: choose the
    CHEAPEST band config meeting a recall floor. Fewer bands means fewer
    bucket keys per document and a lower background candidate rate, so
    among configs with expected_recall >= min_recall the one with the
    smallest n_bands wins (band_size breaks ties toward longer rows —
    more selective buckets).

    The collect here is contractually safe: the table has one row per
    divisor of the signature length (5 rows for 16 hashes) regardless of
    corpus size. Returns (n_bands, band_size), or None if no config
    reaches the floor (caller keeps the current config and should widen
    the signature instead).
    """
    rows = (
        recall_table.filter(F.col("expected_recall") >= float(min_recall))
        .orderBy(F.asc("n_bands"), F.desc("band_size"))
        .limit(1)
        .collect()
    )
    if not rows:
        return None
    return int(rows[0].n_bands), int(rows[0].band_size)


def band_prefix_len(
    store_rows: int,
    n_bands: int,
    target_rows_per_partition: int = 1_000_000,
    max_len: int = 4,
) -> int:
    """Store-size-aware hive-partition width for the banded signature
    store (r09, VERDICT r08 ask #6): pick the smallest prefix length
    whose 16^len partitions hold about ``target_rows_per_partition``
    band rows each — ``ceil(log16(store_rows * n_bands / target))``
    clamped to [0, max_len].

    At toy store sizes the 256-partition listing overhead of the fixed
    prefix_len=2 layout EXCEEDED the unbanded full scan
    (CORPUSBENCH_r08 notes); len=0 writes one partition (band_pfx='')
    and the matcher's pruning degenerates to the full — tiny — scan.
    Large stores grow the partition count with the store, keeping
    per-batch store IO flat in store size (the d20b property). Pure
    policy arithmetic over ONE scalar the caller already has; no data
    is read here.
    """
    import math

    band_rows_total = max(0, int(store_rows)) * max(1, int(n_bands))
    if band_rows_total <= target_rows_per_partition:
        return 0
    need = band_rows_total / target_rows_per_partition
    return min(int(max_len), max(0, math.ceil(math.log(need, 16))))


def store_band_rows(
    store_sigs: DataFrame,
    id_col: str,
    n_hashes: int,
    band_size: int,
    prefix_len: int = 2,
    include_sigs: bool = True,
) -> DataFrame:
    """The persistable band-row layout of a signature store:
    (store_id[, h0..h{n-1}], band_key, band_pfx) where ``band_pfx`` is
    the leading ``prefix_len`` hex chars of the band key — md5 output, so
    the 16^len prefix values split the store uniformly (256 partitions at
    the default). Write it hive-partitioned on ``band_pfx`` (one
    repartition on the prefix keeps files per partition bounded) and the
    steady-state matcher (:func:`match_signature_store` with
    ``store_bands``) prunes its store-side scan to the partitions an
    incoming batch actually collides with, and never re-derives the
    store's bands — the two costs that otherwise grow linearly with store
    size per micro-batch.

    ``include_sigs`` denormalizes the signature slots INTO each band row
    (n_bands-fold duplication of the h columns — a few hundred bytes per
    doc, nothing next to corpus text): the slot comparison then runs on
    the already-pruned band rows and the match never touches the separate
    signature store at all, making per-batch store IO proportional to the
    COLLIDING store fraction with no residual full-store scan."""
    carry = tuple(f"h{j}" for j in range(n_hashes)) if include_sigs else ()
    rows = band_rows(store_sigs, id_col, n_hashes, band_size, carry=carry)
    if id_col != "store_id":
        rows = rows.withColumnRenamed(id_col, "store_id")
    return rows.withColumn(
        "band_pfx", F.substring("band_key", 1, prefix_len)
    ).withColumn(
        # band keys are md5(band_index | h...h) — a batch banded at a
        # DIFFERENT band_size would produce disjoint keys and silently
        # match nothing, so the artifact carries its build geometry (a
        # constant column RLE-compresses to nothing) for readers to
        # validate against
        "band_size", F.lit(band_size)
    )


def match_signature_store(
    batch_sigs: DataFrame,
    store_sigs: DataFrame,
    id_col: str,
    n_hashes: int,
    band_size: int,
    min_agree: int,
    store_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental dedup of a NEW batch against an existing signature
    STORE — the steady-state shape of a 100 TB crawl pipeline: the corpus
    is deduped once, its MinHash signatures are persisted, and every
    incoming slice is matched against the store WITHOUT recomputing (or
    even reading) the corpus text. Similarity is estimated store-side from
    signature-slot agreement alone (agree/n_hashes is an unbiased Jaccard
    estimator), so the store needs signatures only — no shingle sets.

    Shape: band keys for both sides (store bands are computable once and
    persistable too), one equi-join on band_key (batch x store bucket
    mates only — never a cross product), a distinct on candidate pairs,
    then one join per side back to the signature frames for the slot
    comparison. Output is the best store match per batch doc
    (max agreement, min store id on ties) with agreement >= ``min_agree``
    slots; batch docs with no candidate or only weak ones emit nothing —
    they are the genuinely-new content that proceeds into the corpus.

    Returns (batch_id, store_id, n_agree, est_jaccard_ppm) with
    est_jaccard_ppm = n_agree * 1e6 div n_hashes (exact integer).

    ``store_bands`` (from :func:`store_band_rows`, usually read back from
    a hive-partitioned parquet artifact) switches on the banded-store
    path: the store's band rows are NOT re-derived, and when the frame
    carries a ``band_pfx`` partition column the store-side scan is pruned
    to the prefixes the batch actually produces — the batch's distinct
    prefixes are a bounded driver-side set (at most 16^prefix_len values,
    256 at the default — a policy aggregate, not a data-path collect), so
    the IN filter lands in the scan's PartitionFilters and non-colliding
    store partitions contribute zero IO. Pruning is lossless: candidates
    require band_key equality, and equal keys share every prefix.

    When the band rows also carry the signature slots (store_band_rows
    ``include_sigs``, the default artifact layout), the slot comparison
    runs directly on the pruned band rows and ``store_sigs`` is never
    scanned — without this, the candidate->signature join still reads
    the full signature store every batch.
    """
    import re

    from pyspark.sql.window import Window

    # MATERIALIZE the signature frames that feed TWO consumers each (r11):
    # the batch signatures feed both their band rows and the slot-
    # comparison join — unmaterialized, the whole upstream minhash
    # (shingle explode + 16-slot aggregate) was computed twice per
    # micro-batch. Same for the store side on the unbanded path; on the
    # banded path store_sigs is never scanned (the carried band rows
    # replace it), so it is deliberately NOT materialized there. The two
    # sides are INDEPENDENT corpus-scale passes, so the unbanded path
    # checkpoints them as concurrent jobs (guide §2.6): the store pass
    # back-fills executors idled by the batch pass's straggler tail.
    # Measured r12: gating these off at toy scale moved the work into the
    # action, which recomputed the minhash once per consumer (duplicated
    # aggregate subtrees do NOT share stages under AQE) — total flat to
    # slightly worse. The checkpoints stay unconditional.
    carried = False
    if store_bands is None:
        batch_sigs, store_sigs = materialize_many([batch_sigs, store_sigs])
    else:
        batch_sigs = materialize(batch_sigs)
    bb = band_rows(batch_sigs, id_col, n_hashes, band_size).withColumnRenamed(
        id_col, "batch_id"
    )
    if store_bands is None:
        sb = band_rows(store_sigs, id_col, n_hashes, band_size).withColumnRenamed(
            id_col, "store_id"
        )
    else:
        sb = store_bands
        hcols = sorted(
            (c for c in sb.columns if re.fullmatch(r"h\d+", c)),
            key=lambda c: int(c[1:]),
        )
        if hcols and len(hcols) != n_hashes:
            raise ValueError(
                f"signature geometry mismatch: store band rows carry "
                f"{len(hcols)} hash slots, caller asked for "
                f"n_hashes={n_hashes}"
            )
        carried = bool(hcols)
        # ONE limit-1 probe job reads both geometry columns (was two
        # jobs — measurable fixed overhead per micro-batch at toy scale)
        probe_cols = [c for c in ("band_size", "band_pfx") if c in sb.columns]
        probe = sb.select(*probe_cols).first() if probe_cols else None
        if probe is not None and "band_size" in probe_cols:
            # the artifact carries its build geometry; a batch banded at
            # a different band_size would produce disjoint md5 keys and
            # silently match nothing — refuse instead
            if probe["band_size"] != band_size:
                raise ValueError(
                    f"band geometry mismatch: store bands were built at "
                    f"band_size={probe['band_size']}, caller asked for "
                    f"{band_size}"
                )
        keep = ["store_id", "band_key", *hcols]
        if "band_pfx" in sb.columns:
            pfx_probe = probe["band_pfx"] if probe is not None else None
            if pfx_probe is None or len(pfx_probe) == 0:
                # empty store, or a small store written at prefix_len=0
                # (band_prefix_len policy; hive reads the '' partition
                # value back as NULL): nothing to prune
                sb = sb.select(*keep)
            else:
                plen = len(pfx_probe)
                # the heavy batch lineage (minhash) is already cut above;
                # bb re-derives narrowly (band md5 + ×n_bands explode)
                # from the checkpointed signatures for both the prefix
                # set and the join — no second cut needed (r11)
                pfx = sorted(
                    r[0]
                    for r in bb.select(
                        F.substring("band_key", 1, plen).alias("p")
                    )
                    .distinct()
                    .collect()
                )
                sb = sb.filter(F.col("band_pfx").isin(pfx)).select(*keep)
        else:
            sb = sb.select(*keep)
        if carried:
            # disambiguate from the batch signature's h columns
            sb = sb.select(
                "store_id",
                "band_key",
                *[F.col(f"h{j}").alias(f"__sh{j}") for j in range(n_hashes)],
            )
    if carried:
        # slot comparison directly on the pruned band rows: the separate
        # signature store is never read — per-batch store IO is the
        # colliding band partitions, full stop
        pairs = bb.join(sb, "band_key").dropDuplicates(["batch_id", "store_id"])
        agree = sum(
            F.when(F.col(f"ba.h{j}") == F.col(f"__sh{j}"), 1).otherwise(0)
            for j in range(n_hashes)
        )
        scored = (
            pairs.join(batch_sigs.alias("ba"),
                       pairs["batch_id"] == F.col(f"ba.{id_col}"))
            .select("batch_id", "store_id", agree.cast("int").alias("n_agree"))
            .filter(F.col("n_agree") >= min_agree)
        )
    else:
        cand = bb.join(sb, "band_key").select("batch_id", "store_id").distinct()
        agree = sum(
            F.when(F.col(f"ba.h{j}") == F.col(f"sa.h{j}"), 1).otherwise(0)
            for j in range(n_hashes)
        )
        scored = (
            cand.join(batch_sigs.alias("ba"),
                      cand["batch_id"] == F.col(f"ba.{id_col}"))
            .join(store_sigs.alias("sa"),
                  cand["store_id"] == F.col(f"sa.{id_col}"))
            .select("batch_id", "store_id", agree.cast("int").alias("n_agree"))
            .filter(F.col("n_agree") >= min_agree)
        )
    w = Window.partitionBy("batch_id").orderBy(
        F.col("n_agree").desc(), F.col("store_id").asc()
    )
    return (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select(
            "batch_id",
            "store_id",
            F.col("n_agree").cast("long").alias("n_agree"),
            F.expr(f"n_agree * 1000000L div {n_hashes}L").alias(
                "est_jaccard_ppm"
            ),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_gram: int = 16,
    window: int = 8,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilks & Aiken 2003 —
    the MOSS algorithm): hash every ``k_gram``-char shingle, slide a
    window of ``window`` consecutive hashes, and select each window's
    RIGHTMOST minimal hash. The selected set is a deterministic ~2/(w+1)
    density sample with the guarantee that any shared substring of length
    >= k_gram + window - 1 contributes at least one IDENTICAL fingerprint
    to both documents — the exact-substring-match primitive behind
    plagiarism/near-dup detection that gram-set Jaccard (d7) and MinHash
    (d2) only approximate.

    Rightmost-min inside an engine-portable window frame: (hash, pos) is
    encoded into ONE sortable string hash8 || '#' || zero-padded
    (10^7 - pos), so ``min`` over the frame IS min-by (hash asc, pos
    desc) in any SQL dialect — no min_by/struct-ordering dialect
    divergence. Contract: < 10^7 grams per document (the pad width).

    Window starts are positions 1..max(n-w+1, 1) (a document shorter than
    one window winnows to the min of what exists, as MOSS does).

    Grams are the raw (unlowered) k-grams of :func:`_grams_sql`; a NULL
    text yields no grams, like a text shorter than ``k_gram``.

    Scale shape: one shingle explode (the linear step), ONE window pass
    partitioned by document (per-document sequentiality is inherent to
    winnowing — the partition key is the doc, so 100 TB parallelism is
    across documents), then a partial-aggregated distinct. No UDFs, no
    driver state.

    Returns (id, fp_pos, fp) distinct selected fingerprints, fp_pos
    1-based gram position, fp the 8-hex-char gram-hash prefix.
    """
    from pyspark.sql.window import Window

    grams = df.select(
        F.col(id_col),
        F.posexplode(F.expr(_grams_sql(text_col, k_gram))).alias("__p0__", "__g__"),
    ).select(
        id_col,
        (F.col("__p0__") + 1).alias("pos"),
        F.substring(F.md5("__g__"), 1, 8).alias("__h__"),
    )
    # (hash, pos) encoded as ONE fixed-width LONG: hash32 * 10^7 +
    # (10^7 - pos) — the same ordering as the former
    # "hash8 || '#' || zero-padded(10^7 - pos)" string (both fields
    # fixed-width, lowercase hex has ASCII order == numeric order), so
    # ``min`` picks the identical gram. The long keeps the sliding-window
    # min buffer primitive (r11; the README fixed-width-aggregate rule
    # applied to the window frame), the window Exchange ships 8 bytes
    # instead of a 16-char key per gram, and the distinct dedups longs —
    # fp/fp_pos decode back losslessly afterwards.
    key = (
        F.conv(F.col("__h__"), 16, 10).cast("long") * 10_000_000
        + (F.lit(10_000_000) - F.col("pos"))
    )
    w_frame = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    w_part = Window.partitionBy(id_col)
    winnowed = (
        grams.select(
            F.col(id_col),
            "pos",
            F.min(key.alias("k")).over(w_frame).alias("__wmin__"),
            F.count(F.lit(1)).over(w_part).alias("__n__"),
        )
        .filter(F.col("pos") <= F.greatest(F.col("__n__") - window + 1, F.lit(1)))
        .select(id_col, "__wmin__")
        .distinct()
        .select(
            id_col,
            (F.lit(10_000_000)
             - (F.col("__wmin__") % 10_000_000)).cast("int").alias("fp_pos"),
            F.lpad(
                F.lower(F.hex(F.expr("__wmin__ div 10000000L"))),
                8, "0",
            ).alias("fp"),
        )
    )
    return winnowed
