"""The benchmark's workloads: inputs, one timed pass, and output checks.

Each workload class has ``prepare`` (write the seeded inputs; repeated
during set-up), ``run_pass`` (the timed ops, through the package's
public functions only) and ``check`` (run after the timed region; every
failed check is one failed op).  A pass starts from empty store and
cache directories, so every write step really writes.
"""

from __future__ import annotations

import os
import time
import zipfile
from xml.etree import ElementTree

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from automated_review_analysis_pipeline_spark.operators import dedup
from automated_review_analysis_pipeline_spark.operators.classify import (
    build_user_prompt,
    llm_kernel,
)
from automated_review_analysis_pipeline_spark.operators.partitioning import index_compact
from automated_review_analysis_pipeline_spark.plans.survey_pipeline import (
    analyze_wide_cached,
)
from automated_review_analysis_pipeline_spark.registry import ORACLE_SQL
from automated_review_analysis_pipeline_spark.sinks.excel import write_excel_report
from automated_review_analysis_pipeline_spark.sources.survey import read_survey_csv
from automated_review_analysis_pipeline_spark.sources.tables import load_table
from automated_review_analysis_pipeline_spark.streaming.docs_stream import (
    streaming_set_similarity,
)

from perfbench import gen
from perfbench.fakeclient import FakeClientFactory, reply_for
from perfbench.trace import dir_files, dir_usage, written_since

SENTIMENTS = {"Positive", "Neutral", "Negative", "Mixed"}


class CheckFailures:
    """Collects named output-check failures instead of raising."""

    def __init__(self):
        self.failed: list[str] = []
        self.attempted = 0

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed.append(what)


def _normalize(rows, columns) -> list[tuple]:
    """Order-insensitive rows with columns sorted by name and floats at
    six decimals (the registry oracles round the same way)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return sorted(
        tuple(f"{row[i]:.6f}" if isinstance(row[i], float) else str(row[i])
              for i in order)
        for row in rows)


def _oracle(con, sql: str) -> list[tuple]:
    res = con.execute(sql)
    return _normalize(res.fetchall(), [c[0] for c in res.description])


def _spark_rows(df) -> list[tuple]:
    return _normalize([tuple(r) for r in df.collect()], df.columns)


class SurveyReport:
    """The paper's pipeline: CSV -> cached LLM classification (fake
    client) -> product explode -> summary -> workbook; first on an empty
    cache (every key a miss, cache written), then on the same CSV with
    the full cache (all hits, read only)."""

    name = "survey_report"
    report = ("report_cold_s", "report_warm_s", "classifier_calls")
    industry = "retail"
    n_rows = 500

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.csv = os.path.join(work, "survey.csv")

    def prepare(self) -> None:
        rng = np.random.default_rng(self.seed)
        self.frame = gen.survey_frame(rng, self.n_rows)
        self.input_bytes = gen.write_survey_csv(self.frame, self.csv)

    def _pipeline(self, tracer, phase: str, cache_dir: str, out: dict):
        """One CLI-equivalent run, stage by stage as ``api.run`` orders
        them (its log-only language probe left out); ``report_<phase>_s``
        is the sum of the stages."""
        calls = self.spark.sparkContext.accumulator(0)
        classifier = llm_kernel(self.industry,
                                client_factory=FakeClientFactory(calls),
                                base_delay=0.0)
        xlsx = os.path.join(self.pass_dir, f"report_{phase}.xlsx")

        def stage(name: str, fn):
            with tracer.op(f"{name}.{phase}") as r:
                res = fn()
            out["ops"][f"{name}.{phase}"] = r
            return res

        survey = stage("survey.read",
                       lambda: read_survey_csv(self.spark, self.csv))
        wide, base_to_display = stage(
            "survey_pipeline", lambda: analyze_wide_cached(
                survey, classifier, self.industry, cache_dir))
        sheets = stage("excel", lambda: write_excel_report(
            wide, xlsx, base_to_display))
        out[f"report_{phase}_s"] = sum(
            r["s"] for name, r in out["ops"].items()
            if name.endswith(f".{phase}"))
        out[f"calls.{phase}"] = calls.value
        out[f"sheets.{phase}"] = sheets
        out[f"b2d.{phase}"] = base_to_display
        out[f"xlsx.{phase}"] = xlsx

    def run_pass(self, tracer, k: int) -> dict:
        self.pass_dir = os.path.join(self.work, f"pass{k}")
        cache_dir = os.path.join(self.pass_dir, "cache")
        os.makedirs(self.pass_dir)
        out: dict = {"cache_dir": cache_dir, "ops": {}}
        start = time.perf_counter()
        with tracer.span(f"pass{k}"):
            self._pipeline(tracer, "cold", cache_dir, out)
            self._pipeline(tracer, "warm", cache_dir, out)
        out["run_s"] = time.perf_counter() - start
        return out

    def layer_values(self, out: dict, counts: dict) -> dict[str, float]:
        ops = out["ops"]
        phases = ("cold", "warm")
        keys = counts["cache.keys"]
        calls = out["calls.cold"] + out["calls.warm"]
        excel_s = sum(ops[f"excel.{x}"]["s"] for x in phases)
        excel_spark_s = sum(ops[f"excel.{x}"].get("spark_s", 0.0)
                            for x in phases)
        return {
            "report_cold_s": out["report_cold_s"],
            "report_warm_s": out["report_warm_s"],
            "classifier_calls": out["calls.cold"],
            "survey.read_s": sum(ops[f"survey.read.{x}"]["s"] for x in phases),
            "survey.input_rows": self.n_rows,
            "survey.input_bytes": self.input_bytes,
            "survey_pipeline.cold_s": ops["survey_pipeline.cold"]["s"],
            "survey_pipeline.warm_s": ops["survey_pipeline.warm"]["s"],
            "cache.keys": keys,
            "cache.misses": out["calls.warm"],
            "cache.hit_ratio": 1 - out["calls.warm"] / max(1, keys),
            "cache.files": counts["cache.files"],
            "cache.bytes": counts["cache.bytes"],
            "classify.calls": calls,
            "classify.calls_per_miss": calls / max(1, keys),
            "excel.s": excel_s,
            "excel.spark_s": excel_spark_s,
            "excel.driver_s": excel_s - excel_spark_s,
            "excel.rows": counts["wide_rows"],
            "excel.bytes": counts["xlsx_bytes"],
        }

    def _expected_wide_rows(self) -> int:
        total = 0
        for cell in self.frame["Products"]:
            toks = [t.strip() for t in cell.split(",") if t.strip()]
            total += max(1, len(toks))
        return total

    def check(self, out: dict, checks: CheckFailures) -> dict:
        """Checks on the written workbooks; returns the counts they read."""
        books = {p: _read_workbook(out[f"xlsx.{p}"]) for p in ("cold", "warm")}
        checks.expect(books["cold"] == books["warm"],
                      "warm workbook equals cold workbook")
        names, sheets = books["cold"]
        n_q = len(gen.QUESTIONS)
        products = names[:names.index("Summary")]
        rows = [dict(zip(sheets[p][0], r)) for p in products
                for r in sheets[p][1:]]
        checks.expect(len(rows) == self._expected_wide_rows(),
                      "wide rows = sum of max(1, #products)")
        checks.expect(len(names) == 2 * len(products) + 1
                      and names == out["sheets.cold"],
                      "workbook has 2P+1 sheets")
        summary = sheets["Summary"]
        counts = [summary[0].index(s) for s in SENTIMENTS]
        checks.expect(sum(int(r[i]) for r in summary[1:] for i in counts)
                      == len(rows) * n_q,
                      "summary total = wide rows x questions")
        sent_cols = [c for c in sheets[products[0]][0]
                     if c.endswith("_Sentiment")]
        checks.expect(len(sent_cols) == n_q, "one sentiment column per question")
        checks.expect(all(r[c] in SENTIMENTS for r in rows for c in sent_cols),
                      "sentiments from the closed 4-value set")
        # filler cells -> (Neutral, No Feedback); other cells -> exactly
        # the fake model's reply for the prompt the kernel sent
        raw = {str(i + 1): row for i, row in enumerate(
            self.frame.itertuples(index=False))}
        q_index = {b: gen.QUESTIONS.index(q)
                   for b, q in out["b2d.cold"].items()}
        filler_ok = replies_ok = True
        for r in rows:
            cells = raw[r["ResponseID"]]
            for c in sent_cols:
                b = c[: -len("_Sentiment")]
                got = (r[c], r[f"{b}_Category"])
                if cells[3 + q_index[b]] in gen.FILLER:
                    filler_ok &= got == ("Neutral", "No Feedback")
                else:
                    want = reply_for(build_user_prompt(
                        self.industry, gen.QUESTIONS[q_index[b]],
                        r[f"{b}_Answer"][:600]))
                    replies_ok &= got == (want["sentiment"].capitalize(),
                                          want["category"])
        checks.expect(filler_ok, "filler answers -> (Neutral, No Feedback)")
        checks.expect(replies_ok, "answers carry the classifier's reply")
        keys = pq.read_table(out["cache_dir"]).num_rows
        checks.expect(out["calls.cold"] == keys,
                      "classifier calls = cache keys on the cold run")
        checks.expect(out["calls.warm"] == 0, "no classifier calls when warm")
        bytes_, files = dir_usage(out["cache_dir"])
        return {"cache.keys": keys, "cache.bytes": bytes_,
                "cache.files": files, "wide_rows": len(rows),
                "xlsx_bytes": sum(os.path.getsize(out[f"xlsx.{p}"])
                                  for p in ("cold", "warm"))}


_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _read_workbook(path: str) -> tuple[list[str], dict[str, list[tuple]]]:
    """(sheet names, sheet name -> rows of cell values) read back from a
    written .xlsx; shared strings resolved, numbers kept as text."""
    with zipfile.ZipFile(path) as z:
        strings = [si.findtext(f"{_NS}t") or "" for si in ElementTree.fromstring(
            z.read("xl/sharedStrings.xml")).iter(f"{_NS}si")]
        names = [s.get("name") for s in ElementTree.fromstring(
            z.read("xl/workbook.xml")).iter(f"{_NS}sheet")]
        sheets = {}
        for i, name in enumerate(names, start=1):
            root = ElementTree.fromstring(z.read(f"xl/worksheets/sheet{i}.xml"))
            sheets[name] = [
                tuple(strings[int(c.findtext(f"{_NS}v"))] if c.get("t") == "s"
                      else c.findtext(f"{_NS}v") for c in row.iter(f"{_NS}c"))
                for row in root.iter(f"{_NS}row")]
    return names, sheets


class StoreMaintenance:
    """The exact-simjoin store's lifecycle from an empty directory
    (build -> append -> delete -> compact -> read) and the availableNow
    streaming lane that folds micro-batches into a simjoin store."""

    name = "store_maintenance"
    report = ("store_bytes_per_input_byte",)
    n_docs = 300

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tables = os.path.join(work, "tables")

    def prepare(self) -> None:
        """Write the corpus; the seed also picks the appended documents
        (1 in 5) and the deleted ones (1 in 7)."""
        rng = np.random.default_rng(self.seed)
        sizes = gen.write_tables(rng, self.tables, self.n_docs)
        self.input_bytes = sum(sizes.values())
        self.docs_pd = pd.read_parquet(
            os.path.join(self.tables, "documents.parquet"))
        self.new_docs = sorted(int(i) for i in rng.choice(
            self.n_docs, self.n_docs // 5, replace=False))
        self.dead_docs = sorted(int(i) for i in rng.choice(
            self.n_docs, self.n_docs // 7, replace=False))

    def run_pass(self, tracer, k: int) -> dict:
        start = time.perf_counter()
        spark = self.spark
        base = os.path.join(self.work, f"pass{k}")
        sj = os.path.join(base, "simjoin")
        os.makedirs(base)
        docs = load_table(spark, self.tables, "documents")
        is_new = F.col("doc_id").isin(self.new_docs)
        victims = spark.createDataFrame([(i,) for i in self.dead_docs],
                                        "doc_id long")
        out: dict = {"store": sj, "ops": {}}

        def step(family: str, name: str, store: str, fn):
            before = dir_files(store)
            with tracer.op(f"store.{family}.{name}") as r:
                res = fn()
            r["bytes"], r["files"] = written_since(store, before)
            out["ops"][f"store.{family}.{name}"] = r
            return res

        def op(name: str, build):
            """A query function: the call (its eager work included --
            for a streaming lane, the whole drain) builds the DataFrame,
            the collect is its action."""
            with tracer.op(f"op.{name}") as r:
                t = time.perf_counter()
                df = build()
                r["plan_build_s"] = time.perf_counter() - t
                rows = _spark_rows(df)
                r["action_s"] = time.perf_counter() - t - r["plan_build_s"]
            out["ops"][f"op.{name}"] = r
            return rows

        with tracer.span(f"pass{k}"):
            step("simjoin", "build", sj, lambda: dedup.build_simjoin_index(
                docs.where(~is_new), sj, threshold=0.5))
            step("simjoin", "append", sj, lambda: dedup.simjoin_append(
                spark, sj, docs.where(is_new)))
            step("simjoin", "delete", sj,
                 lambda: dedup.simjoin_delete(spark, sj, victims))
            step("simjoin", "compact", sj, lambda: index_compact(spark, sj))
            out["simjoin_pairs"] = step(
                "simjoin", "read", sj,
                lambda: _spark_rows(dedup.simjoin_pairs(spark, sj)))
            out["stream_pairs"] = op(
                "streaming_set_similarity",
                lambda: streaming_set_similarity(
                    spark, os.path.join(self.tables, "documents.parquet"),
                    os.path.join(base, "stream"), threshold=0.5))
        out["run_s"] = time.perf_counter() - start
        return out

    def check(self, out: dict, checks: CheckFailures) -> dict:
        """Post-lifecycle reads against the registry's DuckDB oracles
        over the surviving rows; returns the store footprint."""
        docs = self.docs_pd
        alive = docs[~docs["doc_id"].isin(self.dead_docs)]
        con = duckdb.connect()
        try:
            con.register("documents", docs)
            full_pairs = _oracle(con, ORACLE_SQL["set_similarity_pairs"])
            con.unregister("documents")
            con.register("documents", alive)
            pairs = _oracle(con, ORACLE_SQL["set_similarity_pairs"])
        finally:
            con.close()
        checks.expect(out["simjoin_pairs"] == pairs,
                      "simjoin store pairs = exact join over survivors")
        checks.expect(out["stream_pairs"] == full_pairs,
                      "streaming_set_similarity = exact join over the corpus")
        for name, r in out["ops"].items():
            if name.startswith("store.") and not name.endswith(".read"):
                checks.expect(r["bytes"] > 0, f"{name} wrote bytes")
        return {"store_bytes_per_input_byte":
                dir_usage(out["store"])[0] / self.input_bytes}

    def layer_values(self, out: dict, counts: dict) -> dict[str, float]:
        v = {"store_bytes_per_input_byte":
             counts["store_bytes_per_input_byte"],
             "op.plan_build_s": 0.0, "op.action_s": 0.0}
        for name, r in out["ops"].items():
            v[f"{name}.s"] = r["s"]
            if name.startswith("op."):
                v["op.plan_build_s"] += r["plan_build_s"]
                v["op.action_s"] += r["action_s"]
            elif not name.endswith(".read"):
                v[f"{name}.bytes"] = r["bytes"]
                v[f"{name}.files"] = r["files"]
        return v


WORKLOADS = {w.name: w for w in (SurveyReport, StoreMaintenance)}
