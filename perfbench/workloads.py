"""The benchmark's workloads.  Each is closed loop: one job at a time from
one driver process on a ``local[N]`` session, N = cpus in the process's
affinity.

``pages_extract`` -- the product path: ``plans.pipeline.extract_pages``
over a seeded pages table, then a parquet sink of EVERY output column.
The sink must consume the whole row: an aggregate such as
``count, sum(length(text))`` lets Catalyst prune the classification away
(its optimized plan has no doc_type, score or fold expression), which is
why the repository's older ``bench.py`` flagship numbers never timed
``classify_df``.  Every url's text, title and doc_type is compared with
the page generator's closed-form expectations after every timed job.
Measured on a 4-core host, a warm job takes about 4-5 s at 10k pages
and 7 s at 40k; about 1 s of it is driver-side planning.  The first job
of a fresh driver takes 15-23 s, and C2 keeps compiling for several jobs
after it: job CPU falls from ~12 s to ~8 s over the next six jobs.  Two
warm-up jobs precede the timed ones, and a run reports the median of at
least four timed jobs, so neither the half-warm jobs nor one disturbed
job sets the figure.  At 10k pages a run takes about 58 s; 40k pages
would not fit both workloads' runs into the benchmark's total time.

``curate_docs`` -- eight ``__spark_entry__`` curation queries over a
seeded ``documents`` table, each result collected and compared with its
DuckDB ``oracle_sql()`` rowset.  They read ``documents`` directly, so the
HTML tokenizer is idle: a tokenizer change must read as no change here.
The seed picks the documents and the query order.

Sizing, measured on a 4-core host with the default tiered JIT: a fresh
driver's first pass takes about 52 s at 1,000, 2,500 and 5,000 documents
alike (query planning, code generation, JIT compilation and Python-worker
start-up), a warm pass 22-27 s at 1,000 and 46-57 s at 5,000 (sf0.1's
row count), so about half of a warm sf0.1 pass is data work.  The DuckDB
oracle takes 6 s at 1,000 and 29 s at 5,000.  A warm-up pass plus a
timed warm pass does not fit the run budget at any size, so the timed job
is the fresh driver's first pass, as a batch curation run meets it; the
traced run adds two warm passes (untraced reference, traced), which at
sf0.1 would take a traced run past 180 s.  At ``DOCS`` = 2,000 (40% of
sf0.1) a run takes about 70 s and a traced run about 115 s, which next to
the ``pages_extract`` runs is what the benchmark's total time allows.

Traced runs also measure each layer from outside, in two ways: by timing
calls into its public function on an already materialized input, and
from Spark's own SQL and stage metrics of the same run (``EventLog``).
The field / results layers of the reference's JSON output
(``assemble_results`` + ``write_json``) are measured in the
``pages_extract`` traced run on a slice of its pages.
"""

from __future__ import annotations

import os
import statistics
import time

from . import host, inputs

PAGES = 9990  # multiple of 30: keeps the page-kind mix exact
RESULTS_PAGES = 60  # slice of the same table for the field / JSON layers
DOCS = 2000
QUERIES = (
    "dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard",
    "fingerprint_pairs", "bloom_dedup", "text_repetition",
    "pdf_span_geometry", "media_pixel_features",
)
PAIR_QUERIES = QUERIES[:4]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _us_per_call(fn, items) -> float:
    """Microseconds per ``fn(item)`` in this process on one core."""
    with host.one_core():
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        return (time.perf_counter() - t0) * 1e6 / max(1, len(items))


class PagesExtract:
    name = "pages_extract"
    warmups = 2
    min_jobs = 4  # timed jobs at least; more while --seconds last
    max_jobs = 30
    report_jobs = 3  # fewest jobs a reported median is taken over
    job_labels = ["traced"]

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.src = os.path.join(work, "data", "pages")
        self.out = os.path.join(work, "out", "extract")
        self.docs = PAGES

    def prepare(self, cpus: int) -> None:
        # the generator yields each page's expectations with the page
        table, self.expect = inputs.pages(self.seed, PAGES)
        self.input_bytes = inputs.write_table(table, self.src, 2 * cpus)
        self.table = table

    def oracle(self) -> None:
        pass

    def job(self, sess) -> None:
        from image_ocr_spark.plans.pipeline import extract_pages

        extract_pages(sess.spark.read.parquet(self.src)).write.mode(
            "overwrite"
        ).parquet(self.out)

    def detail(self) -> str:
        return f"{PAGES} pages, {self.input_bytes} bytes of parquet input"

    def check(self, corrupt: bool = False) -> tuple:
        import pyarrow.dataset as ds

        rows = list(zip(*ds.dataset(self.out, format="parquet").to_table(
            columns=["url", "text", "title", "doc_type"]).to_pydict().values()))
        if corrupt:
            url, text, title, doc_type = rows[0]
            rows[0] = (url, text + "#", title, doc_type)
        return len(self.expect), inputs.check_pages(self.expect, rows)

    # -- traced run ------------------------------------------------------

    def layers(self, sess, tr) -> dict:
        from pyspark.sql import functions as F

        from image_ocr_spark.functions.classify import classify_df
        from image_ocr_spark.functions.extract_fields import (
            extract_invoice_fields_df,
            extract_receipt_fields_df,
        )
        from image_ocr_spark.operators.blocks import extract_text_packed
        from image_ocr_spark.operators.tokenize import tokenize_packed
        from image_ocr_spark.plans.pipeline import extract_pages, salt_repartition
        from image_ocr_spark.plans.results import assemble_results, write_json
        from image_ocr_spark.pycore.htmltok import scan_html_cols
        from image_ocr_spark.pycore.pdftok import is_pdf, tokenize_pdf

        spark, m = sess.spark, {}
        pages = spark.read.parquet(self.src)

        def layer(name, fn):
            sess.label(name)
            with tr.span(name):
                fn()
            return tr.seconds(name)

        m["scan.s"] = layer("scan", lambda: _noop(pages))
        sess.label("materialize")
        packed = tokenize_packed(salt_repartition(pages)).persist()
        packed.count()
        m["rollup.s"] = layer(
            "rollup", lambda: _noop(classify_df(extract_text_packed(packed), "text"))
        )
        sess.label("materialize")
        ex = extract_pages(pages).persist()
        engines = dict(ex.groupBy("engine").count().collect())
        m["tokenize.docs_html"] = engines.get("html", 0)
        m["tokenize.docs_pdf"] = engines.get("pdf", 0)
        m["tokenize.docs_none"] = engines.get("none", 0)
        sink = os.path.join(self.work, "out", "sink")
        m["sink.s"] = layer("sink", lambda: ex.write.mode("overwrite").parquet(sink))
        m["sink.bytes"] = inputs.dir_bytes(sink)
        packed.unpersist()

        raws = self.table.column("html").to_pylist()
        pdfs = [r for r in raws if is_pdf(r)]
        htmls = [r for r in raws if not is_pdf(r)]
        with tr.span("htmltok"):
            m["htmltok.us_per_doc"] = _us_per_call(scan_html_cols, htmls)
        m["htmltok.nodes_per_doc"] = statistics.fmean(len(scan_html_cols(r)[0]) for r in htmls)
        with tr.span("pdftok"):
            m["pdftok.us_per_doc"] = _us_per_call(tokenize_pdf, pdfs)

        # field / results layers on a slice of the materialized extraction
        lo = min(e[0] for e in self.expect.values())
        part = F.col("doc_id") < lo + RESULTS_PAGES
        expect = {u: e for u, e in self.expect.items() if e[0] < lo + RESULTS_PAGES}
        ex_r = ex.filter(part)
        m["fields.receipt_s"] = layer("fields.receipt", lambda: _noop(
            extract_receipt_fields_df(ex_r.filter(F.col("doc_type") == "receipt"), keys=("url",))))
        m["fields.invoice_s"] = layer("fields.invoice", lambda: _noop(
            extract_invoice_fields_df(ex_r.filter(F.col("doc_type") == "invoice"), keys=("url",))))
        asm = assemble_results(ex_r).persist()
        m["results.assemble_s"] = layer("results.assemble", asm.count)
        js = os.path.join(self.work, "out", "json")
        m["results.json_s"] = layer("results.json", lambda: write_json(asm, js))
        m["results.json_bytes"] = inputs.dir_bytes(js)
        fails = inputs.check_json_totals(expect, self._json_lines(js))
        asm.unpersist()
        ex.unpersist()
        self.layer_checks = (len(expect), fails)
        return m

    @staticmethod
    def _json_lines(path: str) -> list:
        import json

        out = []
        for f in sorted(os.listdir(path)):
            if f.startswith("part-"):
                with open(os.path.join(path, f), encoding="utf-8") as fh:
                    out.extend((d["url"], d["json"]) for d in map(json.loads, fh))
        return out

    def spark_layers(self, log, m: dict, cpus: int) -> dict:
        m["scan.bytes"] = log.metric("traced", "Scan", "size of files read")
        m["salt.shuffle_bytes"] = log.metric("traced", "Exchange", "shuffle bytes written")
        m["salt.write_s"] = log.metric("traced", "Exchange", "shuffle write time")
        reads = [r for st in log.stages_of("traced") if st["sr_bytes"] for r in st["task_sr"]]
        m["salt.skew"] = max(reads) / statistics.median(reads) if reads else 0.0
        m["tokenize.py_run_s"] = log.metric("traced", "MapInArrow", "time to run Python workers")
        m["tokenize.py_init_s"] = log.metric("traced", "MapInArrow", "time to initialize Python workers")
        m["tokenize.bytes_to_py"] = log.metric("traced", "MapInArrow", "data sent to Python workers")
        m["tokenize.bytes_from_py"] = log.metric("traced", "MapInArrow", "data returned from Python workers")
        # wall the job's layers account for: isolated-layer walls, plus
        # task-time layers spread over the cores
        return {
            "scan.s": m["scan.s"],
            "salt.write_s/N": m["salt.write_s"] / cpus,
            "tokenize.py_run_s/N": m["tokenize.py_run_s"] / cpus,
            "rollup.s": m["rollup.s"],
            "sink.s": m["sink.s"],
        }


class CurateDocs:
    name = "curate_docs"
    warmups = 0  # the job is a fresh driver's first pass
    min_jobs = max_jobs = report_jobs = 1
    job_labels = [f"traced/q.{q}" for q in QUERIES]

    def __init__(self, work: str, seed: int):
        import random

        self.work, self.seed = work, seed
        self.src = os.path.join(work, "data", "curate")
        self.order = list(QUERIES)
        random.Random(seed).shuffle(self.order)
        self.docs = DOCS

    def prepare(self, cpus: int) -> None:
        table = inputs.documents(self.seed, DOCS)
        inputs.write_table(table, os.path.join(self.src, "documents.parquet"), 2 * cpus)

    def oracle(self) -> None:
        import duckdb

        import __spark_entry__ as entry

        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{self.src}/documents.parquet/*.parquet')"
            )
            self.expect = {}
            for q in QUERIES:
                t = con.execute(entry.oracle_sql()[q]).arrow()
                cols = t.column_names
                self.expect[q] = inputs.rowset(cols, [tuple(d[c] for c in cols) for d in t.to_pylist()])
        finally:
            con.close()

    def job(self, sess) -> None:
        import __spark_entry__ as entry

        base = sess.current
        self.results, self.query_s = {}, {}
        for q in self.order:
            sess.label(f"{base}/q.{q}")
            t0 = time.perf_counter()
            df = entry.queries()[q](sess.spark, self.src)
            self.results[q] = (df.columns, df.collect())
            self.query_s[q] = time.perf_counter() - t0
        sess.label(base)

    def detail(self) -> str:
        return "last pass, query s / rows: " + ", ".join(
            f"{q} {self.query_s[q]:.2f}/{len(self.results[q][1])}" for q in self.order)

    def check(self, corrupt: bool = False) -> tuple:
        bad = 0
        for q, (cols, rows) in self.results.items():
            rows = [tuple(r) for r in rows]
            if corrupt and q == self.order[0]:
                rows = rows[1:]
            bad += inputs.rowset(cols, rows) != self.expect[q]
        return len(QUERIES), bad

    def layers(self, sess, tr) -> dict:
        m = {}
        for q in QUERIES:
            m[f"q.{q}_s"] = self.query_s[q]
            m[f"q.{q}_rows"] = len(self.results[q][1])
        self.layer_checks = (0, 0)
        return m

    def spark_layers(self, log, m: dict, cpus: int) -> dict:
        # candidates: rows out of every join node of the four pair queries
        pairs = [f"traced/q.{q}" for q in PAIR_QUERIES]
        joins = ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct")
        cand = sum(log.metric(p, j, "number of output rows") for p in pairs for j in joins)
        m["dedup.candidate_rows"] = cand
        m["dedup.useful_frac"] = (
            sum(m[f"q.{q}_rows"] for q in PAIR_QUERIES) / cand if cand else 0.0
        )
        m["dedup.shuffle_bytes"] = sum(log.totals(p)["shuffle_bytes"] for p in pairs)
        m["dedup.broadcasts"] = sum(
            n == "BroadcastExchange" for p in pairs for n in log.final_nodes(p)
        )
        m["spans.py_nodes"] = sum(
            log.is_python_node(n) for n in log.final_nodes("traced/q.pdf_span_geometry")
        )
        return {f"q.{q}_s": m[f"q.{q}_s"] for q in QUERIES}


WORKLOADS = {w.name: w for w in (PagesExtract, CurateDocs)}
