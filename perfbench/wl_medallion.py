"""medallion: the reference's flow, bulk then trickle.

Bulk phase: landing parquet → ``MedallionPipeline.ingest_bronze`` →
``run_silver`` → ``run_gold`` → OPTIMIZE ZORDER of the three gold tables
(reference 03:207-216) → ``fraud.batch_score`` with the model trained in
set-up, written as the predictions table.

Trickle phase: K staged upsert files drained as K micro-batches of one
``StreamingMedallion(bucket_silver=16)`` query (``availableNow``,
``maxFilesPerTrigger=1``) over a copy of the silver table base-loaded in
set-up. The backlog is staged before the query starts, so micro-batch
latencies measure capacity and exclude queue wait.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from statistics import median

from harness import file_bytes, tail
from inputs import (
    expected_hourly_rows,
    expected_quarantine,
    landing_range,
    write_landing,
    write_upserts,
)

SIZES = {"full": (20_000, 4, 1_000), "tiny": (3_000, 2, 100)}
WARMUP_FILES = 2  # staged files a warm-up repetition drains
N_BUCKETS = 16
ZORDER = {
    "gold_merchant": ["mcc_category", "merchant_state"],
    "gold_features": ["avg_risk_score", "is_suspicious"],
    "gold_hourly": ["event_date", "card_network"],
}
FEATURE_COLS = [
    "txn_count", "total_spend", "avg_amount", "stddev_amount", "min_amount",
    "max_amount", "unique_merchants", "online_ratio", "intl_ratio",
    "avg_risk_score", "max_risk_score",
]


def _inodes(root: str) -> set[int]:
    return {
        os.stat(os.path.join(d, n)).st_ino
        for d, _, names in os.walk(root) for n in names
    }


def _new_parquet(root: str, before: set[int]) -> tuple[int, int]:
    """(bytes, files) of parquet files under ``root`` not in ``before``."""
    total = count = 0
    for d, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(d, n))
            if n.endswith(".parquet") and st.st_ino not in before:
                total += st.st_size
                count += 1
    return total, count


class Medallion:
    name = "medallion"

    def __init__(self, spark, seed, work, tracer, res, size="full"):
        self.spark, self.seed, self.work = spark, seed, work
        self.tracer, self.res = tracer, res
        self.n_rows, self.k_files, self.rows_per_file = SIZES[size]
        self.reps = 0
        self.last = {}

    # -- set-up ---------------------------------------------------------------

    def prepare(self, d: str) -> None:
        """Generate the inputs under ``d``, base-load silver, train the
        model."""
        from databricks_etl_pipelines_spark.ml.fraud import (
            ensure_two_classes,
            feature_matrix,
            train_compare,
        )
        from databricks_etl_pipelines_spark.plans.medallion import (
            gold_cardholder_features,
            silver_transform,
        )
        from databricks_etl_pipelines_spark.sources.managed_table import (
            ManagedTable,
        )

        spark = self.spark
        self.lo, self.hi = landing_range(self.seed, self.n_rows)
        self.landing = os.path.join(d, "landing")
        write_landing(spark, self.landing, self.lo, self.hi)
        self.staged = os.path.join(d, "staged")
        write_upserts(spark, self.staged, self.seed, self.lo, self.hi,
                      self.k_files, self.rows_per_file)
        self.staged_warm = os.path.join(d, "staged_warm")
        os.makedirs(self.staged_warm)
        for k in range(WARMUP_FILES):
            name = f"f{k:03d}.parquet"
            os.link(os.path.join(self.staged, name),
                    os.path.join(self.staged_warm, name))
        landing = spark.read.parquet(self.landing)
        self.schema = landing.schema
        silver, _ = silver_transform(landing)
        self.base_silver = os.path.join(d, "base", "silver")
        ManagedTable(self.base_silver).create_or_overwrite(
            silver, bucket_by=["transaction_id"], n_buckets=N_BUCKETS
        )
        mat = ensure_two_classes(
            feature_matrix(gold_cardholder_features(silver), FEATURE_COLS,
                           "is_suspicious", "cardholder_token"),
            fallback_col="avg_risk_score",
        ).cache()
        t0 = time.perf_counter()
        best, models, _ = train_compare(mat, mat, FEATURE_COLS, fast=True)
        self.train_s = time.perf_counter() - t0
        mat.unpersist()
        self.model = models[best]
        self.res.inputs = {
            "landing": (self.n_rows, file_bytes(self.landing, ".parquet")[0]),
            "upserts": (self.k_files * self.rows_per_file,
                        file_bytes(self.staged, ".parquet")[0]),
        }

    # -- one repetition -------------------------------------------------------

    def rep(self, warmup: bool = False) -> dict:
        """One bulk phase then one trickle phase, in a fresh directory;
        the previous repetition's tables are removed. A warm-up repetition
        drains only the first staged files."""
        self.reps += 1
        self.rep_start = time.time()
        root = os.path.join(self.work, f"rep{self.reps}")
        sample = self._bulk(os.path.join(root, "bulk"))
        sample.update(self._trickle(
            os.path.join(root, "stream"),
            self.staged_warm if warmup else self.staged))
        sample["flow_s"] = sample["bulk_s"] + sample["trickle_s"]
        shutil.rmtree(self.last.get("root", ""), ignore_errors=True)
        self.last["root"] = root
        return sample

    def _bulk(self, root: str) -> dict:
        from databricks_etl_pipelines_spark.ml.fraud import (
            batch_score,
            feature_matrix,
        )
        from databricks_etl_pipelines_spark.plans.medallion import (
            MedallionPipeline,
        )
        from databricks_etl_pipelines_spark.sources.managed_table import (
            ManagedTable,
        )

        spark, tr = self.spark, self.tracer
        m = MedallionPipeline(spark, root)
        preds = ManagedTable(os.path.join(root, "gold_fraud_predictions"))
        t0 = time.perf_counter()
        ok = False
        try:
            with tr.phase(spark, "medallion.bulk"):
                with tr.span("medallion.ingest_bronze"):
                    m.ingest_bronze(spark.read.parquet(self.landing))
                with tr.span("medallion.run_silver"):
                    silver = m.run_silver()
                with tr.span("medallion.run_gold"):
                    gold = m.run_gold()
                with tr.span("managed_table.optimize"):
                    for table, cols in ZORDER.items():
                        getattr(m, table).optimize(spark, cluster_by=cols)
                with tr.span("fraud.batch_score"):
                    mat = feature_matrix(
                        m.gold_features.read(spark), FEATURE_COLS,
                        "is_suspicious", "cardholder_token",
                    )
                    preds.create_or_overwrite(
                        batch_score(self.model, mat, "cardholder_token")
                    )
            ok = True
        finally:
            self.res.op(ok)
        dt = time.perf_counter() - t0
        landing_bytes = self.res.inputs["landing"][1]
        written, files = file_bytes(root, ".parquet")
        self.last.update(m=m, preds=preds, silver_counts=silver,
                         gold_counts=gold,
                         bulk_written=(written, files))
        return {"bulk_s": dt, "storage": written / landing_bytes}

    def _trickle(self, root: str, staged: str) -> dict:
        from databricks_etl_pipelines_spark.streaming.structured import (
            StreamingMedallion,
            await_drained,
        )

        spark, tr = self.spark, self.tracer
        shutil.copytree(self.base_silver, os.path.join(root, "silver"))
        before = _inodes(root)
        sm = StreamingMedallion(spark, root, bucket_silver=N_BUCKETS)
        stream = (
            spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(staged)
        )
        t0 = time.perf_counter()
        with tr.phase(spark, "medallion.trickle"):
            q = sm.start(stream, os.path.join(root, "_checkpoint"))
            await_drained(q, 150)
        dt = time.perf_counter() - t0
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        for _ in progress:
            self.res.op(True)
        n_files = len(os.listdir(staged))
        self.res.check("microbatch_count", len(progress) == n_files,
                       f"{len(progress)} != {n_files}")
        rows = n_files * self.rows_per_file
        in_bytes = file_bytes(staged, ".parquet")[0]
        new_bytes, new_files = _new_parquet(root, before)
        self.last.update(sm=sm, progress=progress,
                         trickle_written=(new_bytes, new_files))
        return {
            "trickle_s": dt,
            "ops": [p["durationMs"]["triggerExecution"] / 1000.0
                    for p in progress],
            "upsert_rows_per_s": rows / dt,
            "write_amp": new_bytes / in_bytes,
        }

    # -- correctness ----------------------------------------------------------

    def check(self) -> None:
        from pyspark.sql import functions as F

        from databricks_etl_pipelines_spark.plans.medallion import (
            silver_transform,
        )

        spark, res, last = self.spark, self.res, self.last
        n = self.n_rows
        m = last["m"]
        n_q = expected_quarantine(self.lo, self.hi)
        res.check("bronze_rows", m.bronze.read(spark).count() == n)
        s = last["silver_counts"]
        res.check("quarantine_rows", s["quarantined"] == n_q,
                  f"{s['quarantined']} != {n_q}")
        res.check("silver_plus_quarantine", s["silver"] + s["quarantined"] == n)
        g = last["gold_counts"]
        res.check("gold_merchant_rows", g["merchant"] == 500, str(g))
        res.check("gold_feature_rows", g["features"] == 10, str(g))
        n_h = expected_hourly_rows(self.lo, self.hi)
        res.check("gold_hourly_rows", g["hourly"] == n_h, f"{g} vs {n_h}")
        res.check("prediction_rows",
                  last["preds"].read(spark).count() == g["features"])
        # after the trickle, silver equals a batch recomputation of the
        # final key state: staged rows replace landing rows by key
        landing = spark.read.parquet(self.landing)
        staged = spark.read.schema(self.schema).parquet(self.staged)
        final = landing.join(
            staged.select("transaction_id"), "transaction_id", "left_anti"
        ).unionByName(staged)
        want, _ = silver_transform(final)
        got = last["sm"].silver.read(spark)
        cols = sorted(want.columns)

        def fingerprint(df):
            # row count and an order-insensitive sum of row hashes
            return tuple(df.agg(
                F.count("*"), F.sum(F.hash(*cols).cast("long"))).first())

        want_fp, got_fp = fingerprint(want), fingerprint(got)
        res.check("trickle_silver_matches_batch", want_fp == got_fp,
                  f"batch={want_fp} stream={got_fp}")

    # -- metrics --------------------------------------------------------------

    def trace_rep(self) -> dict[str, float]:
        """Per-layer figures of the repetition just run (traced)."""
        tr, last = self.tracer, self.last
        prog = last["progress"]

        def p50(key: str) -> float:
            return median([p["durationMs"].get(key, 0) for p in prog])

        with open(os.path.join(last["sm"].silver.root, "_log.json")) as f:
            log = json.load(f)
        merges = [e for e in log if e["operation"] == "merge"]
        rows = self.res.inputs["upserts"][0]
        names = ("medallion.ingest_bronze", "medallion.run_silver",
                 "medallion.run_gold", "managed_table.optimize",
                 "fraud.batch_score")
        out = {f"{n}_s": tr.total(n, self.rep_start) for n in names}
        out.update({
            "stream.trigger_ms_p50": p50("triggerExecution"),
            "stream.add_batch_ms_p50": p50("addBatch"),
            "stream.query_planning_ms_p50": p50("queryPlanning"),
            "stream.commit_ms_p50": p50("commitOffsets"),
            "stream.source_reads_per_row":
                sum(p["numInputRows"] for p in prog) / rows,
            "managed_table.buckets_rewritten_share": median(
                [e["buckets_rewritten"] / e["n_buckets"] for e in merges]
            ) if merges else 0.0,
            "managed_table.bytes_written.bulk": last["bulk_written"][0],
            "managed_table.files_written.bulk": last["bulk_written"][1],
            "managed_table.bytes_written.trickle": last["trickle_written"][0],
            "managed_table.files_written.trickle": last["trickle_written"][1],
        })
        return out

    def report(self, samples: list[dict]) -> dict[str, tuple]:
        """Workload-named end-to-end figures over untraced repetitions."""
        def med(key: str) -> float:
            return median([s[key] for s in samples])

        batches = [x for s in samples for x in s["ops"]]
        t, label = tail(batches)
        return {
            "medallion_s": (med("bulk_s"), "s",
                            f"bulk phase, median of {len(samples)}"),
            "trickle_s": (med("trickle_s"), "s",
                          f"upsert backlog drained, median of {len(samples)}"),
            "storage_bytes_per_input_byte": (
                med("storage"), "ratio", "table bytes after bulk / landing"),
            "microbatch_p50_s": (median(batches), "s", f"n={len(batches)}"),
            "microbatch_tail_s": (t, "s", label),
            "upsert_rows_per_s": (med("upsert_rows_per_s"), "rows/s",
                                  "staged rows / trickle wall"),
            "upsert_write_amplification": (
                med("write_amp"), "ratio",
                "new-inode parquet bytes / staged bytes"),
        }

    def setup_layers(self) -> dict[str, float]:
        return {"fraud.train_compare_s": self.train_s}
