"""The minhash signature kernel against the slice formulation it
replaced: every slot must keep its exact bytes, so band keys, stores and
oracle hashes stay put."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, seed, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from peskas_timor_data_pipeline_spark.llm.dedup import (
    MINHASH_WIDTH,
    minhash_signature,
    shingle_rows,
)


def _reference_signature(df, id_col, text_col, n_hashes, k_shingle=5):
    """The slice formulation the word kernel replaced: one concatenated
    md5 chain, each slot an 8-hex-char ``substring`` through ``conv``."""
    n_md5 = -(-n_hashes * MINHASH_WIDTH // 32)
    chain = "concat(" + ", ".join(f"md5(concat(sh, '#{j}'))" for j in range(n_md5)) + ")"
    rows = shingle_rows(df, id_col, text_col, k_shingle)
    aggs = [
        F.expr(
            f"min(CAST(conv(substring(dig, {1 + MINHASH_WIDTH * j}, {MINHASH_WIDTH}),"
            f" 16, 10) AS BIGINT)) AS __hl{j}__"
        )
        for j in range(n_hashes)
    ]
    back = [
        F.expr(f"lpad(lower(hex(__hl{j}__)), {MINHASH_WIDTH}, '0') AS h{j}")
        for j in range(n_hashes)
    ]
    return rows.withColumn("dig", F.expr(chain)).groupBy(id_col).agg(*aggs).select(id_col, *back)


_texts = st.lists(
    st.one_of(
        st.text(alphabet="ab \n", max_size=30),  # repeated shingles, newlines
        st.text(alphabet="xé漢\U0001f600 ", max_size=12),  # multibyte
        st.text(max_size=4),  # shorter than k
        st.text(min_size=5, max_size=40),
    ),
    min_size=1,
    max_size=6,
)


@seed(20261018)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=_texts)
@example(texts=["abababababab", "Ab\nab\nAB\nab", "abc", "", "Ünïcødé 漢字 \U0001f600 text"])
def test_minhash_words_equal_hex_slices(spark, texts):
    """The 64-bit-word kernel gives exactly the signatures of the
    substring-slice formulation, with and without caller shingles."""
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    shingles = shingle_rows(docs, "doc_id", "text", 5)
    for n in (6, 16):
        want = sorted(_reference_signature(docs, "doc_id", "text", n).collect())
        assert sorted(minhash_signature(docs, "doc_id", "text", n).collect()) == want
        got = minhash_signature(docs, "doc_id", "text", n, shingles=shingles)
        assert sorted(got.collect()) == want
