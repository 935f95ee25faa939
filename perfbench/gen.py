"""Seeded input generators owned by the benchmark.

Everything the package reads during a benchmark run is made here, so a
later change to ``tools/`` cannot move a workload. Two families:

- ``write_tables``: the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` that the registry queries read, written
  as one parquet file per table with the column names and types the
  registry expects. Row counts scale with ``sf`` the way the fixture
  tables do (lineitem 6M x sf, orders 1.5M x sf, ...). Values are drawn
  from a NumPy generator seeded by ``seed``.
- ``synth_trips`` / ``synth_landings`` / ``synth_params`` /
  ``synth_nutrients``: copies of ``tools/dom_bench.py``'s peskas-chain
  generators with the seed mixed into every md5 key.
"""

from __future__ import annotations

import os

import numpy as np

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _day_ts(day0: str, days: np.ndarray) -> np.ndarray:
    return (np.datetime64(day0, "D") + days.astype("timedelta64[D]")).astype(
        "datetime64[us]")


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _documents(rng: np.random.Generator, n: int) -> dict:
    lens = rng.integers(10, 101, n)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    # 5% near duplicates (another doc's text plus one token) and 0.2%
    # exact copies, as in the fixture corpus, so dedup has work to do.
    src = rng.integers(0, n, n)
    kind = rng.random(n)
    for i in range(n):
        if kind[i] < 0.05 and src[i] != i:
            texts[i] = texts[src[i]] + " dup"
        elif kind[i] > 0.998 and src[i] != i:
            texts[i] = texts[src[i]]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _LANGS[rng.choice(len(_LANGS), n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    label = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    v = centers[label] * 0.5 + rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(v),
            "label": label}


def table_columns(sf: float, seed: int) -> dict[str, dict]:
    """Column dict per table at scale factor ``sf``, drawn from ``seed``."""
    rng = np.random.default_rng([seed, int(sf * 1e6)])
    n_cust, n_supp = max(int(150_000 * sf), 10), max(int(10_000 * sf), 5)
    n_part, n_ord = max(int(200_000 * sf), 20), max(int(1_500_000 * sf), 100)
    n_line, n_ev = max(int(6_000_000 * sf), 400), max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 10)
    n_docs = max(int(50_000 * sf), 500)
    n_vecs = max(int(20_000 * sf), 500)
    t: dict[str, dict] = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": _REGIONS}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_supp)),
    }
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = {
        "p_partkey": pk,
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng.uniform(1000.0, 500_000.0, n_ord)),
        "o_orderdate": _day_ts("1995-01-01", rng.integers(0, 2400, n_ord)),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    }
    # (l_orderkey, l_linenumber) is deliberately not unique (~24% repeats),
    # the dirty-key property the fixture tables carry.
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng.uniform(900.0, 105_000.0, n_line)),
        "l_discount": _cents(rng.uniform(0.0, 0.1, n_line)),
        "l_tax": _cents(rng.uniform(0.0, 0.08, n_line)),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _day_ts("1995-01-02", rng.integers(0, 2500, n_line)),
    }
    us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _cents(rng.exponential(50.0, n_ev)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, cols in table_columns(sf, seed).items():
        pq.write_table(pa.table(cols),
                       os.path.join(out_dir, f"{name}.parquet"))


# -- peskas chain inputs (copied from tools/dom_bench.py) -----------------

MUNIS = ["Dili", "Baucau", "Bobonaro", "Covalima", "Lautem", "Liquica",
         "Manatuto", "Manufahi", "Oecusse", "Viqueque", "Aileu", "Ainaro"]
SPECIES = ["GZP", "FLY", "CGX", "EMP", "CLP", "SNA", "TUN", "MAC"]


def _h(seed: int, prefix: str, *cols):
    """Deterministic 0..999999 integer from md5 of seed + keyed columns."""
    from pyspark.sql import functions as F

    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("#", F.lit(seed), F.lit(prefix), *cols)),
                1, 8,
            ),
            16, 10,
        ).cast("long") % 1000000
    )


def synth_trips(spark, n_boats: int, seed: int, days: int = 120):
    """Raw PDS trips: 1 trip/boat/day plus a close follow-up trip for
    boats % 5 == 0 (consecutive-trip merging); boats % 23 == 0 get an
    over-96h duration (alert 8), % 29 an over-200km distance (alert 9)."""
    from pyspark.sql import functions as F

    base = (
        spark.range(n_boats)
        .select(F.col("id").alias("boat"))
        .select(
            "boat",
            F.explode(F.sequence(F.lit(0), F.lit(days - 1))).alias("d"),
        )
        .select(
            "boat", "d",
            F.explode(
                F.when(F.col("boat") % 5 == 0, F.array(F.lit(0), F.lit(1)))
                .otherwise(F.array(F.lit(0)))
            ).alias("leg"),
        )
    )
    r = _h(seed, "trip", "boat", "d", "leg")
    day0 = F.to_timestamp(F.lit("2023-01-01 00:00:00"))
    start_s = (
        F.col("d") * 86400
        + F.lit(5 * 3600)
        + F.col("leg") * F.lit(8 * 3600)
        + (r % 3600)
    )
    dur = (
        F.when(F.col("boat") % 23 == 0, F.lit(100 * 3600.0))
        .otherwise(F.lit(3 * 3600.0) + (r % 7200).cast("double"))
    )
    dist = (
        F.when(F.col("boat") % 29 == 0, F.lit(250000.0))
        .otherwise(F.lit(3000.0) + (r % 5000).cast("double"))
    )
    lat = F.lit(-8.5) - (r % 200).cast("double") / 1000.0
    lng = F.lit(125.5) + (r % 300).cast("double") / 1000.0
    return base.select(
        (F.col("boat") * 100000 + F.col("d") * 10 + F.col("leg")).alias("trip"),
        F.timestamp_seconds(day0.cast("long") + start_s).alias("started"),
        F.timestamp_seconds(
            day0.cast("long") + start_s + dur.cast("long")
        ).alias("ended"),
        "boat",
        dur.alias("duration_s"),
        (dist / 4).alias("range_m"),
        dist.alias("distance_m"),
        F.concat(F.lit("86"), F.lpad(F.col("boat").cast("string"), 8, "0")
                 ).alias("imei"),
        F.concat(F.lit("dev"), F.col("boat").cast("string")).alias("device_id"),
        F.lit(None).cast("timestamp").alias("last_seen"),
        lat.alias("start_lat"),
        lng.alias("start_lng"),
        (lat - 0.001).alias("end_lat"),
        (lng + 0.001).alias("end_lng"),
    )


def synth_landings(spark, n_boats: int, seed: int, days: int = 120):
    """Nested landings: one per (boat, day) except r%3==0, two species
    with one 5-cm length class each; boats % 17 == 0 land with NULL
    municipality (the fill_missing_regions case)."""
    from pyspark.sql import functions as F

    base = (
        spark.range(n_boats)
        .select(F.col("id").alias("boat"))
        .select(
            "boat",
            F.explode(F.sequence(F.lit(0), F.lit(days - 1))).alias("d"),
        )
    )
    r = _h(seed, "land", "boat", "d")
    muni = F.element_at(
        F.array(*[F.lit(m) for m in MUNIS]),
        (F.col("boat") % 12 + 1).cast("int"),
    )
    sp = F.array(*[F.lit(s) for s in SPECIES])
    sp1 = F.element_at(sp, (r % 8 + 1).cast("int"))
    sp2 = F.element_at(sp, ((r + 3) % 8 + 1).cast("int"))
    length1 = ((r % 8) * 5 + 10).cast("double")
    length2 = (((r / 7).cast("long") % 8) * 5 + 15).cast("double")

    def species(code, length, n):
        return F.struct(
            code.alias("catch_taxon"),
            n.cast("int").alias("n"),
            F.array(
                F.struct(
                    length.alias("length"),
                    (n % 5 + 1).cast("int").alias("n_individuals"),
                )
            ).alias("length_individuals"),
        )

    return base.filter(r % 3 != 0).select(
        (F.col("boat") * 100000 + F.col("d")).alias("landing_id"),
        F.date_add(F.lit("2023-01-01").cast("date"), F.col("d").cast("int")
                   ).alias("landing_date"),
        F.when(F.col("boat") % 13 != 0,
               F.concat(F.lit("86"),
                        F.lpad(F.col("boat").cast("string"), 8, "0"))
               ).alias("tracker_imei"),
        F.when(F.col("boat") % 17 != 0, muni).alias("municipality"),
        F.array(
            species(sp1, length1, r % 9 + 1),
            species(sp2, length2, (r + 2) % 9 + 1),
        ).alias("species_group"),
    )


def synth_params(spark):
    """Length-weight parameter dim: 5 (a, b) rows per species code."""
    from pyspark.sql import functions as F

    return (
        spark.range(len(SPECIES) * 5)
        .select(
            F.element_at(
                F.array(*[F.lit(s) for s in SPECIES]),
                (F.col("id") % 8 + 1).cast("int"),
            ).alias("catch_taxon"),
            (F.lit(0.01) + (F.col("id") % 5).cast("double") / 500.0).alias("a"),
            (F.lit(2.9) + (F.col("id") % 7).cast("double") / 35.0).alias("b"),
        )
    )


def synth_nutrients(spark, version: int = 0):
    """Per-species nutrient dim; ``version`` shifts every value so each
    refresh publishes a genuinely new ``nutrients_dim``."""
    from pyspark.sql import functions as F

    from peskas_timor_data_pipeline_spark.pipeline.public import RDI

    return spark.range(len(SPECIES)).select(
        F.element_at(
            F.array(*[F.lit(s) for s in SPECIES]),
            (F.col("id") + 1).cast("int"),
        ).alias("species"),
        *[
            ((F.col("id") % 5 + 1 + version).cast("double")
             / (200.0 + 40 * i)).alias(c)
            for i, c in enumerate(RDI)
        ],
    )
