"""Seeded input generators. Each writes files under a directory it is
given and returns what it wrote; the program under test only ever sees
those files.

* medallion: a landing parquet of transactions built from the engine's
  own ``generator.transaction_columns`` over a seed-offset id range, and K
  staged upsert files mixing updates of existing keys with new keys.
* query_board: the ten-table star schema the catalog queries read, at a
  fixed generator seed (the workload seed only orders the queries), and a
  separate corpus for the pretraining-prep flow: fresh documents drawn
  from the test corpus's vocabulary and length distribution, with planted
  exact duplicates, near-duplicates and too-short documents (PII is
  planted by the flow itself, with ``plant_synthetic_pii``, exactly as the
  catalog query does).
"""

from __future__ import annotations

import glob
import itertools
import math
import os
import shutil

import numpy as np
import pandas as pd

# Vocabulary of the engine's test corpus (documents.parquet): 30 words
# drawn uniformly, 9 to 105 words per document (48 to 553 characters),
# plus the rare word "dup" that marks its near-duplicates.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
MIN_WORDS, MAX_WORDS = 9, 105
N_SOURCES = 20
LANGS, LANG_SHARES = ("en", "zh", "es", "de", "fr"), (.44, .15, .15, .14, .12)

# ---------------------------------------------------------------------------
# medallion
# ---------------------------------------------------------------------------


def landing_range(seed: int, n_rows: int) -> tuple[int, int]:
    """Seed-offset transaction id range [lo, hi)."""
    lo = 1 + (seed % 1009) * 1_000_003
    return lo, lo + n_rows


def _txn_frame(spark, ids: pd.DataFrame):
    """Transactions for the ``id`` column of ``ids``, keeping ``file``;
    rows with ``bump`` set get a changed amount (an update of an existing
    key)."""
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.functions.numeric import stable_round
    from databricks_etl_pipelines_spark.sources.generator import (
        BASE_EPOCH,
        transaction_columns,
    )

    base = spark.createDataFrame(ids, "id long, bump boolean, file long")
    v = F.col("id")
    cols = transaction_columns(v, F.timestamp_seconds(F.lit(BASE_EPOCH) + v))
    cols["amount"] = F.when(
        F.col("bump"), stable_round(cols["amount"] + 1.5, 2)
    ).otherwise(cols["amount"])
    return base.select([e.alias(n) for n, e in cols.items()] + ["file"])


def write_landing(spark, path: str, lo: int, hi: int) -> None:
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.sources.generator import (
        BASE_EPOCH,
        transaction_columns,
    )

    v = F.col("id")
    cols = transaction_columns(v, F.timestamp_seconds(F.lit(BASE_EPOCH) + v))
    spark.range(lo, hi).select(
        [e.alias(n) for n, e in cols.items()]
    ).write.parquet(path)


FAULT_PRIMES = (997, 991, 983, 977)  # generator.P_NULL_ID ... P_BAD_MCC


def faulty(v: np.ndarray) -> np.ndarray:
    return np.logical_or.reduce([v % p == 0 for p in FAULT_PRIMES])


def expected_quarantine(lo: int, hi: int) -> int:
    """Ids in [lo, hi) hitting any prime fault rule, by inclusion-exclusion
    over the (pairwise coprime) fault primes."""
    def multiples(m: int) -> int:
        return (hi - 1) // m - (lo - 1) // m

    total = 0
    for k in range(1, len(FAULT_PRIMES) + 1):
        for combo in itertools.combinations(FAULT_PRIMES, k):
            total += (-1) ** (k + 1) * multiples(math.prod(combo))
    return total


def expected_hourly_rows(lo: int, hi: int) -> int:
    """Distinct (hour, card network, mcc category) keys over the valid ids:
    ts = BASE_EPOCH + id, network = id mod 4, mcc = 11·id mod 10 (one
    category per code)."""
    from databricks_etl_pipelines_spark.sources.generator import BASE_EPOCH

    v = np.arange(lo, hi, dtype=np.int64)
    v = v[~faulty(v)]
    hour = (BASE_EPOCH + v) // 3600
    key = (hour * 4 + v % 4) * 10 + (v * 11) % 10
    return int(np.unique(key).size)


def write_upserts(
    spark, staged: str, seed: int, lo: int, hi: int, k_files: int,
    rows_per_file: int,
) -> None:
    """K upsert files ``staged/f000.parquet`` ... Each is half updates of
    existing valid keys, half new keys past ``hi``; keys never repeat
    across files, so the final state does not depend on file order."""
    rng = np.random.default_rng(seed)
    n_upd = rows_per_file // 2
    n_new = rows_per_file - n_upd
    pool = np.arange(lo, hi, dtype=np.int64)
    upd = rng.choice(pool[~faulty(pool)], size=k_files * n_upd, replace=False)
    new = np.arange(hi, hi + k_files * n_new, dtype=np.int64)
    ids = pd.DataFrame({
        "id": np.concatenate([upd, new]),
        "bump": np.r_[np.ones(len(upd), bool), np.zeros(len(new), bool)],
        "file": np.r_[np.repeat(np.arange(k_files), n_upd),
                      np.repeat(np.arange(k_files), n_new)],
    }).sort_values(["file", "id"])
    tmp = os.path.join(staged, "_tmp")
    _txn_frame(spark, ids).repartition(k_files, "file").write.partitionBy(
        "file").parquet(tmp)
    for k in range(k_files):
        (part,) = glob.glob(os.path.join(tmp, f"file={k}", "part-*.parquet"))
        os.replace(part, os.path.join(staged, f"f{k:03d}.parquet"))
    shutil.rmtree(tmp)


# ---------------------------------------------------------------------------
# pretraining corpus
# ---------------------------------------------------------------------------


def write_corpus(
    path: str, seed: int, n_docs: int, short: float = 0.02,
    exact_dup: float = 0.04, near_dup: float = 0.05,
) -> dict[str, int]:
    """Fresh documents plus planted defects, as shares of ``n_docs``;
    returns the planted counts.

    * ``short``: 5 words, below the quality gate's 10-token floor.
    * ``exact_dup``: an earlier document's text with different spacing
      (the normalised text is equal).
    * ``near_dup``: an earlier document's text plus the rare word "dup",
      the test corpus's own near-duplicate construction.
    """
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    lengths = rng.integers(MIN_WORDS, MAX_WORDS + 1, size=n_docs)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), size=n)])
             for n in lengths]
    roles = rng.choice(4, size=n_docs, p=[
        1 - short - exact_dup - near_dup, short, exact_dup, near_dup])
    roles[:10] = 0  # every copy has an earlier original to copy
    for i in np.flatnonzero(roles == 1):
        texts[i] = " ".join(vocab[rng.integers(0, len(vocab), size=5)])
    originals = np.flatnonzero(roles == 0)
    for i in np.flatnonzero(roles >= 2):
        src = texts[int(rng.choice(originals[originals < i]))]
        texts[i] = ("  " + src.replace(" ", "   ") + " " if roles[i] == 2
                    else src + " dup")
    df = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, size=n_docs, p=LANG_SHARES),
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
    })
    df["n_chars"] = df["text"].str.len().astype(np.int64)
    os.makedirs(path, exist_ok=True)
    df.to_parquet(os.path.join(path, "documents.parquet"), index=False)
    return {
        "short": int((roles == 1).sum()),
        "exact_dup": int((roles == 2).sum()),
        "near_dup": int((roles == 3).sum()),
    }


# ---------------------------------------------------------------------------
# query_board
# ---------------------------------------------------------------------------

BOARD_GENERATOR_SEED = 20240101


def write_board_tables(path: str) -> dict[str, int]:
    """The catalog's ten tables at the row counts of the engine's sf0.001
    test data, with its column names, physical types and value ranges.
    Returns rows per table."""
    rng = np.random.default_rng(BOARD_GENERATOR_SEED)
    os.makedirs(path, exist_ok=True)
    n_cust, n_supp, n_part = 150, 10, 200
    n_ord, n_line, n_evt, n_docs = 1500, 6000, 1000, 500
    n_users = 15
    i32, i64 = np.int32, np.int64

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, n_days, n):
        return (pd.Timestamp(start)
                + pd.to_timedelta(rng.integers(0, n_days, n), unit="D")
                ).astype("datetime64[us]")

    tables = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"], n_cust),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype=i64),
            "p_name": [
                f"{a} {b}" for a, b in zip(
                    rng.choice(["blue", "cold", "green", "hot", "large",
                                "old", "red", "small"], n_part),
                    rng.choice(["anvil", "bolt", "gear", "gizmo", "plate",
                                "ring", "rod", "widget"], n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                  "SMALL", "STANDARD"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1,
                                      2),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype=i64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": days("1995-01-01", 2405, n_ord),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                 "5-LOW"], n_ord),
        }),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(i64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(i64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(i64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": days("1995-01-02", 2499, n_line),
        }),
    }
    start = pd.Timestamp("2024-01-01").value // 1000
    ts_us = np.sort(rng.integers(start, start + 30 * 86_400_000_000, n_evt))
    tables["events"] = pd.DataFrame({
        "event_id": np.arange(n_evt, dtype=i64),
        "ts": pd.to_datetime(ts_us, unit="us").astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_evt).astype(i64),
        "event_type": rng.choice(
            ["click", "error", "purchase", "signup", "view"], n_evt),
        "value": np.round(rng.exponential(50.0, n_evt) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    # like the test corpus: near-duplicates, no exact duplicates
    write_corpus(path, BOARD_GENERATOR_SEED, n_docs, short=0.0,
                 exact_dup=0.0)
    emb = rng.normal(size=(n_docs, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(len(emb), dtype=i64),
        "embedding": list(emb),
        "label": rng.integers(0, 10, len(emb)).astype(i32),
    })
    rows = {"documents": n_docs}
    for name, df in tables.items():
        df.to_parquet(os.path.join(path, f"{name}.parquet"), index=False)
        rows[name] = len(df)
    return rows
