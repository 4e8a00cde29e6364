"""query_board: a fixed slice of the headline board plus the pretraining
corpus flow, one client, closed loop.

Every pass runs each entry once, in an order shuffled from the workload
seed. A catalog query is timed in two phases: construct (calling the query
function, including any Spark jobs it starts) and execute (forcing the
result through the noop sink). The corpus entry runs
``prepare_pretraining_corpus`` over the documents table with planted PII,
exactly as the ``curation_prepare_corpus`` catalog query does; construct is
the call, execute is ``selected.count()`` plus collecting the report.

The tables come from ``inputs.write_board_tables`` at a fixed generator
seed. Correctness: in the warm-up pass every result is collected and
compared with its DuckDB oracle twin (``catalog.ORACLES``, computed in
set-up): row count and an order-insensitive comparison of the rows. The
corpus funnel is compared stage by stage with the DuckDB recomputation.
"""

from __future__ import annotations

import math
import os
import random
import time
from statistics import median

from harness import tail
from inputs import write_board_tables, write_corpus

# The board slice: one or two representatives per family of the headline
# list (bench.HEADLINE), so that a whole run stays near a minute at 4 cores.
FAMILIES = {
    "flagship_pricing_risk_summary": "relational",
    "agg_mad_robust_z": "stats",
    "dedup_ngram_jaccard_pairs": "dedup",
    "curation_dsir_budget_select": "curation",
    "corpus_prep": "curation",
    "text_bm25_topk": "retrieval",
    "streaming_tumbling_hourly": "other",
}
FAMILY_NAMES = ("relational", "stats", "dedup", "curation", "retrieval",
                "other")
CORPUS = "corpus_prep"
CORPUS_TWIN = "curation_prepare_corpus"  # the catalog query it mirrors
# module attributes the corpus flow calls, traced as their own spans
CORPUS_LAYERS = (
    ("operators.dedup", "exact_dedup", "dedup.exact_dedup"),
    ("operators.dedup", "duplicated_span_report",
     "dedup.duplicated_span_report"),
    ("operators.curation", "dsir_importance_weights",
     "curation.dsir_importance_weights"),
    ("operators.curation", "token_budget_select",
     "curation.token_budget_select"),
)
CORPUS_DOCS = {"full": 800, "tiny": 300}
FUNNEL = ("input", "pii_scrub", "quality_gate", "exact_dedup", "span_gate",
          "dsir_budget_select")


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def corpus_flow(spark, corpus_dir: str):
    """(selected, report) of the pretraining-prep flow over the documents
    in ``corpus_dir``, with the catalog query's arguments."""
    from pyspark.sql import functions as F

    from databricks_etl_pipelines_spark.functions.privacy import (
        plant_synthetic_pii,
    )
    from databricks_etl_pipelines_spark.operators.curation import (
        prepare_pretraining_corpus,
    )
    from databricks_etl_pipelines_spark.sources.tables import table

    docs = table(spark, corpus_dir, "documents").select(
        "doc_id", "source", plant_synthetic_pii("doc_id", "text").alias("text"),
    )
    return prepare_pretraining_corpus(
        docs, F.col("source").isin("src1", "src2", "src3"), budget_tokens=300,
    )


def corpus_oracle(corpus_dir: str) -> dict[str, int]:
    """Rows out of each funnel stage up to the span gate, from the DuckDB
    twin of ``curation_prepare_corpus`` (its ``c0``..``c3`` stage counts).
    Its DSIR stage costs seconds per few hundred documents in DuckDB, so
    the budget-selection stage is checked by invariants here and against
    its own oracle by the ``curation_dsir_budget_select`` entry."""
    import duckdb

    from databricks_etl_pipelines_spark import catalog

    sql = catalog.ORACLES[CORPUS_TWIN]
    ctes = sql[:sql.index("SELECT 'input' AS stage")]
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{corpus_dir}/documents.parquet')")
        counts = [con.execute(f"{ctes} SELECT v FROM c{i}").fetchone()[0]
                  for i in range(4)]
    finally:
        con.close()
    return dict(zip(("input", "quality_gate", "exact_dedup", "span_gate"),
                    counts))


def _rows(pdf) -> list[tuple]:
    """Rows with columns in name order, floats rounded to 9 significant
    digits, sorted — an order-insensitive form for comparison."""
    cols = sorted(pdf.columns)

    def norm(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else float(f"{v:.9g}")
        if hasattr(v, "tolist"):
            return repr(v.tolist())
        return v

    rows = [tuple(norm(v) for v in r)
            for r in pdf[cols].itertuples(index=False)]
    return sorted(rows, key=repr)


def same_result(spark_pdf, duck_pdf) -> tuple[bool, str]:
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return False, (f"columns {sorted(spark_pdf.columns)} != "
                       f"{sorted(duck_pdf.columns)}")
    if len(spark_pdf) != len(duck_pdf):
        return False, f"rows {len(spark_pdf)} != {len(duck_pdf)}"
    a, b = _rows(spark_pdf), _rows(duck_pdf)
    bad = sum(1 for x, y in zip(a, b) if x != y)
    return bad == 0, f"{bad} rows differ"


class QueryBoard:
    name = "board"

    def __init__(self, spark, seed, work, tracer, res, size="full"):
        from databricks_etl_pipelines_spark import catalog

        catalog.load_all()
        self.catalog = catalog
        self.spark, self.tracer, self.res = spark, tracer, res
        self.seed = seed
        self.rng = random.Random(seed)
        self.entries = list(FAMILIES) if size == "full" else [
            "flagship_pricing_risk_summary", "text_bm25_topk", CORPUS]
        self.corpus_docs = CORPUS_DOCS[size]
        self.checked = False
        self.funnel: dict[str, int] = {}

    def prepare(self, d: str) -> None:
        """Write the tables and the seeded corpus, and compute every
        entry's DuckDB oracle."""
        import duckdb

        rows = write_board_tables(os.path.join(d, "tables"))
        self.sf_dir = os.path.join(d, "tables")
        self.corpus_dir = os.path.join(d, "corpus")
        write_corpus(self.corpus_dir, self.seed, self.corpus_docs)
        self.res.inputs = {
            name: (n, os.path.getsize(
                os.path.join(self.sf_dir, f"{name}.parquet")))
            for name, n in rows.items()
        }
        self.res.inputs["corpus"] = (self.corpus_docs, os.path.getsize(
            os.path.join(self.corpus_dir, "documents.parquet")))
        self.oracle = {}
        for name in self.entries:
            if name == CORPUS:
                self.oracle[name] = corpus_oracle(self.corpus_dir)
                continue
            con = duckdb.connect()
            try:
                for t in rows:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{self.sf_dir}/{t}.parquet')")
                self.oracle[name] = con.execute(
                    self.catalog.ORACLES[name]).fetchdf()
            finally:
                con.close()

    # -- one pass -------------------------------------------------------------

    def _wrap_layers(self) -> None:
        import importlib

        for module, attr, span in CORPUS_LAYERS:
            mod = importlib.import_module(
                f"databricks_etl_pipelines_spark.{module}")
            self.tracer.wrap(mod, attr, span)

    def _run(self, name: str, collect: bool):
        """Construct and execute one entry; returns (construct_s,
        execute_s, result pandas frame or None)."""
        spark, tr = self.spark, self.tracer
        kind = "corpus" if name == CORPUS else "board"
        out = None
        t0 = time.perf_counter()
        with tr.phase(spark, f"{kind}.construct"), tr.span(name):
            if name == CORPUS:
                selected, report = corpus_flow(spark, self.corpus_dir)
            else:
                df = self.catalog.QUERIES[name](spark, self.sf_dir)
        t1 = time.perf_counter()
        with tr.phase(spark, f"{kind}.execute"), tr.span(name):
            if name == CORPUS:
                n_selected = selected.count()
                out = report.toPandas()
                self.corpus_selected = n_selected
            elif collect:
                out = df.toPandas()
            else:
                _force(df)
        return t1 - t0, time.perf_counter() - t1, out

    def rep(self, warmup: bool = False) -> dict:
        """One pass over the entries in a seed-shuffled order. The first
        pass (a warm-up) collects every result for the correctness check;
        later passes force results through the noop sink."""
        collect = not self.checked
        if self.tracer.enabled:
            self._wrap_layers()
        order = list(self.entries)
        self.rng.shuffle(order)
        per, ops = {}, []
        self.pass_start = time.time()
        t0 = time.perf_counter()
        for name in order:
            ok = False
            try:
                c, e, out = self._run(name, collect)
                ok = True
            finally:
                self.res.op(ok)
            per[name] = (c, e)
            ops.append(c + e)
            if collect:
                self._check_entry(name, out)
        flow = time.perf_counter() - t0
        self.tracer.unwrap_all()
        self.checked = True
        self.last_per = per
        return {"flow_s": flow, "ops": ops, "per": per}

    def _check_entry(self, name: str, out) -> None:
        if name != CORPUS:
            ok, detail = same_result(out, self.oracle[name])
            self.res.check(f"oracle.{name}", ok, detail)
            return
        funnel = {r.stage: r for r in out.itertuples(index=False)}
        self.funnel = {s: int(funnel[s].rows_out) for s in FUNNEL}
        for stage, want in self.oracle[CORPUS].items():
            self.res.check(f"corpus.{stage}_matches_duckdb",
                           funnel[stage].rows_out == want,
                           f"{funnel[stage].rows_out} != {want}")
        for prev, cur in zip(FUNNEL, FUNNEL[1:]):
            self.res.check(f"corpus.{cur}_chained",
                           funnel[cur].rows_in == funnel[prev].rows_out)
        for s in ("quality_gate", "exact_dedup", "span_gate",
                  "dsir_budget_select"):
            self.res.check(f"corpus.{s}_drops", funnel[s].rows_dropped > 0,
                           f"{s} dropped {funnel[s].rows_dropped}")
        span = funnel["span_gate"]
        self.res.check("corpus.span_gate_keeps_most",
                       span.rows_out > span.rows_in / 2,
                       f"{span.rows_out} of {span.rows_in}")
        self.res.check("corpus.selected_rows", self.corpus_selected
                       == funnel["dsir_budget_select"].rows_out)

    def check(self) -> None:
        """The results were compared in the warm-up pass."""
        self.res.check("board.checked", self.checked)

    # -- metrics --------------------------------------------------------------

    def trace_rep(self) -> dict[str, float]:
        last_per = self.last_per
        out = {}
        for phase, i in (("construct", 0), ("execute", 1)):
            fam_tot = dict.fromkeys(FAMILY_NAMES, 0.0)
            for name, t in last_per.items():
                fam_tot[FAMILIES[name]] += t[i]
            out[f"board.{phase}_s"] = sum(fam_tot.values())
            for fam, v in fam_tot.items():
                out[f"board.{phase}_s.{fam}"] = v
        if CORPUS in last_per:
            out["curation.construct_s"], out["curation.execute_s"] = \
                last_per[CORPUS]
        for _, _, span in CORPUS_LAYERS:
            out[f"{span}_s"] = self.tracer.total(span, self.pass_start)
        return out

    def report(self, samples: list[dict]) -> dict[str, tuple]:
        ops = [x for s in samples for x in s["ops"]]
        t, label = tail(ops)
        corpus = [sum(s["per"][CORPUS]) for s in samples if CORPUS in s["per"]]
        out = {
            "board_s": (median([s["flow_s"] for s in samples]), "s",
                        f"median of {len(samples)} passes of "
                        f"{len(self.entries)} entries"),
            "query_p50_s": (median(ops), "s", f"n={len(ops)}"),
            "query_tail_s": (t, "s", label),
        }
        if corpus:
            out["corpus_s"] = (median(corpus), "s",
                               "prepare call + selected.count + report")
        return out

    def setup_layers(self) -> dict[str, float]:
        return {f"curation.funnel.{s}_rows_out": float(n)
                for s, n in self.funnel.items()}
