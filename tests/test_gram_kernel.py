"""The one character-gram kernel (``llm/dedup.py::_grams_sql``) against
the three ``substring`` walks it replaced: the lowered grams behind
``char_shingles``, the positioned grams of ``shingle_rows_with_pos`` and
the raw gram array of ``winnow_fingerprints``. Every gram must keep its
exact text and position, so gram keys, signatures and oracle hashes stay
put."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, seed, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from peskas_timor_data_pipeline_spark.llm.dedup import (
    _grams_sql,
    char_shingles,
    shingle_rows_with_pos,
)

KS = (1, 5, 16)


def _old_lowered(t: str, k: int) -> str:
    """``_shingles_sql`` before the kernel: slices of the let-bound
    ``lower(text)``."""
    return (
        f"transform(array(lower({t})), __lt__ -> "
        f"CASE WHEN length(__lt__) >= {k} THEN "
        f"transform(sequence(1, length(__lt__) - {k - 1}),"
        f" i -> substring(__lt__, i, {k})) "
        f"ELSE array() END)[0]"
    )


def _old_positional(t: str, k: int) -> str:
    """``shingle_rows_with_pos`` before the kernel: (pos, lowered raw slice)."""
    return (
        f"CASE WHEN length({t}) >= {k} THEN "
        f"transform(sequence(1, length({t}) - {k - 1}),"
        f" i -> struct(i AS pos, lower(substring({t}, i, {k})) AS sh)) "
        f"ELSE array() END"
    )


def _old_raw(t: str, k: int) -> str:
    """``winnow_fingerprints``'s grams before the kernel (NULL on NULL text)."""
    return (
        f"CASE WHEN length({t}) < {k} THEN array() "
        f"ELSE transform(sequence(1, length({t}) - {k} + 1),"
        f" i -> substring({t}, i, {k})) END"
    )


_texts = st.lists(
    st.one_of(
        st.none(),
        st.text(alphabet="aB \n\tİΣςß中ﬁé\U00010348\U0001f600", max_size=40),
        st.text(max_size=20),
    ),
    min_size=1,
    max_size=8,
)


@seed(20261018)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=_texts)
@example(texts=[
    "a\U0001f600b\U00010348c\U0001f600\U0001f600 defghijklmnopqrstu",  # surrogate pairs
    "İstanbul İİİ İ",  # lowers to more code points
    "\n",
    "line one\nline two\n\nend",
    "ΣΊΣΥΦΟΣ ς σ",
    "abcd",  # shorter than 5
    "",
    None,
])
def test_gram_kernel_equals_substring_walks(spark, texts):
    docs = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    cols = []
    for k in KS:
        cols += [
            F.expr(_old_lowered("text", k)).alias(f"old_low{k}"),
            char_shingles("text", k, f"new_low{k}"),
            F.expr(_old_raw("text", k)).alias(f"old_raw{k}"),
            F.expr(_grams_sql("text", k)).alias(f"new_raw{k}"),
            F.expr(_old_positional("text", k)).alias(f"old_pos{k}"),
        ]
    rows = docs.select("id", "text", *cols).collect()
    pos = {
        k: sorted(shingle_rows_with_pos(docs, "id", "text", k).collect())
        for k in KS
    }
    for k in KS:
        want_pos = []
        for r in rows:
            assert r[f"new_low{k}"] == r[f"old_low{k}"], (k, r.text)
            # the one difference: the old raw walk gave NULL on NULL text;
            # posexplode yields no rows for either
            old_raw = r[f"old_raw{k}"] if r.text is not None else []
            assert r[f"new_raw{k}"] == old_raw, (k, r.text)
            want_pos += [(r.id, p.pos, p.sh) for p in r[f"old_pos{k}"]]
        assert [tuple(x) for x in pos[k]] == sorted(want_pos), k


def test_lookahead_only_regex_splits_surrogate_pairs(spark):
    """Why the kernel's regex consumes a ``.``: without it, a match may
    start on the low half of a surrogate pair and emit a gram the
    ``substring`` walk never does."""
    row = spark.sql(
        "SELECT regexp_extract_all(t, '(?s)(?=(.{2}))', 1) AS bare, "
        f"{_grams_sql('t', 2)} AS kernel, {_old_raw('t', 2)} AS walk "
        "FROM VALUES ('a\U0001f600b') AS v(t)"
    ).first()
    assert row.kernel == row.walk == ["a\U0001f600", "\U0001f600b"]
    assert row.bare != row.walk
