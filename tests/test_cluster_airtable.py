"""Connected-components dedup clustering + Airtable converters."""

from __future__ import annotations

from pyspark.sql import functions as F

from peskas_timor_data_pipeline_spark.llm.cluster import (
    connected_components,
    resolve_duplicates,
)
from peskas_timor_data_pipeline_spark.sources.airtable import (
    df_to_record_batches,
    records_to_df,
)


def test_connected_components_chain_and_clique(spark):
    # chain 1-2-3-4 (diameter 3), clique 10-11-12, isolated pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    comp = {r.node: r.component for r in connected_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == comp[4] == 1
    assert comp[10] == comp[11] == comp[12] == 10
    assert comp[20] == comp[21] == 20


def test_connected_components_deep_chain_converges(spark):
    """A 25-node pairwise chain (diameter 24) — the round-1 one-hop
    propagation with max_iter=10 silently split this into several
    components; pointer jumping must resolve it to ONE in O(log d) rounds
    (8 rounds cover diameter 2^8)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 25)], "id_a long, id_b long"
    )
    comp = {r.node: r.component for r in connected_components(pairs, max_iter=8).collect()}
    assert len(comp) == 25
    assert set(comp.values()) == {1}


def test_connected_components_raises_instead_of_splitting(spark):
    """Exhausting max_iter before the fixed point must raise — never
    return wrong (split) labels."""
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 25)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=1)


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir= switches lineage cuts to reliable checkpoint files
    on shared storage (survive executor loss); same labels either way."""
    ckpt = str(tmp_path / "ckpt")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    comp = {
        r.node: r.component
        for r in connected_components(pairs, checkpoint_dir=ckpt).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert any((tmp_path / "ckpt").rglob("*"))  # checkpoint files landed


def test_resolve_duplicates(spark):
    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 9]], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    out = resolve_duplicates(docs, pairs, "doc_id")
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].canonical_id == 1 and not rows[1].is_duplicate
    assert rows[2].canonical_id == 1 and rows[2].is_duplicate
    assert rows[3].canonical_id == 1 and rows[3].is_duplicate
    assert rows[9].canonical_id == 9 and not rows[9].is_duplicate


def test_airtable_roundtrip(spark):
    records = [
        {"id": "recA", "fields": {"name": "boat1", "n": 3}, "createdTime": "x"},
        {"id": "recB", "fields": {"name": "boat2"}},
    ]
    df = records_to_df(spark, records)
    assert df.count() == 2
    assert df.filter(F.col("_airtable_id") == "recA").collect()[0].n == 3

    batches = list(df_to_record_batches(df.orderBy("_airtable_id"), batch_size=1))
    assert len(batches) == 2
    assert batches[0][0]["id"] == "recA"
    assert batches[0][0]["fields"]["name"] == "boat1"
    # None fields are dropped (PATCH semantics)
    assert "n" not in batches[1][0]["fields"]


def test_star_cc_equals_label_propagation_cc(spark):
    """Alternating large-star/small-star == the existing label-propagation
    CC on random graphs, a diameter-100 path, and multi-component mixes."""
    import random

    from peskas_timor_data_pipeline_spark.llm.cluster import (
        connected_components,
        connected_components_star,
    )

    cases = []
    rng = random.Random(7)
    for _ in range(2):
        n = 30
        cases.append([(rng.randrange(n), rng.randrange(n)) for _ in range(25)])
    cases.append([(i, i + 1) for i in range(100)])           # long path
    cases.append([(0, 1), (2, 3), (4, 5), (1, 2)])           # mixed comps
    # zig-zag id paths (ADVICE r05): intermediate states form star forests
    # with SHARED LEAVES ({(1,4),(2,4)}-shaped), which the chain-only
    # flatness probe mistook for fixed points — node 4 came back under
    # TWO components. The probe now also rejects duplicated larger
    # endpoints; these topologies pin that.
    cases.append([(2, 4), (4, 5), (5, 6), (1, 6)])           # zig-zag path
    cases.append([(1, 4), (2, 4)])                           # shared leaf
    cases.append([(3, 7), (5, 7), (1, 5), (2, 6), (4, 6)])   # two shared-leaf comps
    for edges in cases:
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        lp = {(r.node, r.component) for r in connected_components(df).collect()}
        st = {(r.node, r.component)
              for r in connected_components_star(df).collect()}
        assert st == lp, (sorted(st - lp), sorted(lp - st))


def test_cluster_safe_split_never_straddles(spark):
    """Every member of a component gets its component's split; singletons
    draw on their own id. By construction no component straddles — pinned
    here on a graph with a 4-node chain component and singletons, plus
    the determinism of the md5 draw."""
    from pyspark.sql import functions as F

    from peskas_timor_data_pipeline_spark.llm.cluster import (
        cluster_safe_split,
        connected_components,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(20)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 5), (5, 9), (9, 13), (2, 6)], "id_a long, id_b long"
    )
    comp = connected_components(pairs)
    out = cluster_safe_split(docs, "doc_id", comp).collect()
    by_id = {r.doc_id: r for r in out}
    assert len(by_id) == 20
    # chain component 1-5-9-13: one canonical, one split for all four
    chain = [by_id[i] for i in (1, 5, 9, 13)]
    assert len({r.canonical_id for r in chain}) == 1
    assert len({r.split for r in chain}) == 1
    assert {by_id[2].split} == {by_id[6].split}
    # deterministic re-draw
    again = {r.doc_id: r.split
             for r in cluster_safe_split(docs, "doc_id", comp).collect()}
    assert again == {r.doc_id: r.split for r in out}
    # splits are the three expected labels and roughly 90/5/5 over many ids
    big = spark.createDataFrame(
        [(i, "x") for i in range(2000)], "doc_id long, text string"
    )
    empty = spark.createDataFrame([], "node long, component long")
    dist = {
        r.split: r.n
        for r in cluster_safe_split(big, "doc_id", empty)
        .groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(dist) == {"train", "val", "test"}
    assert dist["train"] > 1600 and dist["val"] < 200 and dist["test"] < 200


def test_connected_components_eager_gate_forced_big(spark, monkeypatch):
    """The r12 size gate must not change labels: force the eager
    (big-input) path via SPARK_GRAFT_EAGER_MIN_BYTES=0 and compare
    against the default (lazy at test scale) path."""
    monkeypatch.setenv("SPARK_GRAFT_EAGER_MIN_BYTES", "0")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)],
        "id_a long, id_b long",
    )
    eager = {r.node: r.component for r in connected_components(pairs).collect()}
    monkeypatch.delenv("SPARK_GRAFT_EAGER_MIN_BYTES")
    lazy = {r.node: r.component for r in connected_components(pairs).collect()}
    assert eager == lazy
    assert eager[1] == eager[4] == 1 and eager[20] == 20


def test_star_components_eager_gate_forced_big(spark, monkeypatch):
    from peskas_timor_data_pipeline_spark.llm.cluster import (
        connected_components_star,
    )

    monkeypatch.setenv("SPARK_GRAFT_EAGER_MIN_BYTES", "0")
    pairs = spark.createDataFrame(
        [(2, 4), (4, 5), (5, 6), (6, 1), (30, 31)], "id_a long, id_b long"
    )
    eager = {
        r.node: r.component for r in connected_components_star(pairs).collect()
    }
    monkeypatch.delenv("SPARK_GRAFT_EAGER_MIN_BYTES")
    lazy = {
        r.node: r.component for r in connected_components_star(pairs).collect()
    }
    assert eager == lazy
    assert eager[2] == eager[4] == eager[5] == eager[6] == eager[1] == 1
    assert eager[30] == eager[31] == 30


def test_d12_enc_guard_raises_out_of_range(spark):
    """The d12 fixed-width argmax encoding must refuse ids >= 2^34 or
    lengths >= 2^28 (VERDICT r11 #9) instead of ranking wrong."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from peskas_timor_data_pipeline_spark.harness.llm_q import _d12_enc_guarded

    ok = spark.createDataFrame(
        [(1, 5, 100), (1, 7, 90)], "component long, node long, n_chars long"
    )
    got = ok.groupBy("component").agg(
        F.max(_d12_enc_guarded()).alias("enc")
    ).collect()
    assert got[0].enc == (100 << 34) + ((1 << 34) - 1 - 5)

    bad = spark.createDataFrame(
        [(1, 1 << 34, 100)], "component long, node long, n_chars long"
    )
    with pytest.raises((SparkRuntimeException, Py4JJavaError)):
        bad.groupBy("component").agg(
            F.max(_d12_enc_guarded()).alias("enc")
        ).collect()


def test_scan_bytes_unknown_on_jvm_failure(spark, monkeypatch):
    """A py4j/reflection failure while reading plan statistics must read as
    huge, so the gated lineage cut takes the scale-safe eager path."""
    from py4j.protocol import Py4JError

    from peskas_timor_data_pipeline_spark.llm import ckpt

    class BrokenJdf:
        def queryExecution(self):
            raise Py4JError("statistics unavailable")

    df = spark.range(3)
    assert ckpt.scan_bytes(df) < ckpt.eager_min_bytes()
    monkeypatch.setattr(df, "_jdf", BrokenJdf())
    assert ckpt.scan_bytes(df) >= ckpt.eager_min_bytes()
    cut = []
    monkeypatch.setattr(ckpt, "materialize", lambda frame, _dir=None: cut.append(frame))
    ckpt.materialize_gated(df)
    assert cut == [df]


def test_d15_raises_on_empty_corpus(spark, tmp_path):
    """d15's duplication rate has no value on an empty corpus: it must
    fail through its raise_error guard, not divide by zero or emit NULL."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from peskas_timor_data_pipeline_spark.harness.llm_q import QUERIES

    pq.write_table(
        pa.table({"doc_id": pa.array([], pa.int64()), "text": pa.array([], pa.string())}),
        str(tmp_path / "documents.parquet"),
    )
    fn, _oracle = QUERIES["d15_dup_rate_scout"]
    with pytest.raises((SparkRuntimeException, Py4JJavaError), match="empty corpus"):
        fn(spark, str(tmp_path)).collect()
