"""The benchmark's workloads: inputs, one pipeline iteration, and the
output check.

Each workload is a closed loop with one client: one iteration runs the
pipeline and waits for its result before the next starts. An iteration
calls only the library's public functions, each call inside a span, so
a traced run can key Spark's status-store metrics by layer.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

import corpus

PAGE_COPIES = 4  # every payload is served by this many urls
# the cache layer's second crawl (layers.py): this share of distinct
# payloads gets RECRAWL_SUFFIX appended — new bytes, same extracted text
RECRAWL_FRAC = 0.2
RECRAWL_SUFFIX = {True: b"% recrawl\n", False: b"\n<!-- recrawl -->\n"}


class Context:
    """What every workload shares: the session (set once it has
    started), its scratch directory, the workload seed and the
    partition count of the full-width run."""

    def __init__(self, work: str, seed: int, par: int, n_docs: int) -> None:
        self.spark = None
        self.work = work
        self.seed = seed
        self.par = par
        self.docs = corpus.documents(n_docs)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


# ------------------------------------------------------------ inputs


def build_pages(docs: pa.Table, seed: int, out_dir: str, n_files: int, changed=frozenset()) -> dict:
    """The pages table of ``synth.pages_from_documents(replicate=
    PAGE_COPIES)`` built without Spark, rows in seed order, written as
    ``n_files`` parquet files. Payloads of docs in ``changed`` get
    RECRAWL_SUFFIX. Returns url -> (doc_id, text, payload)."""
    from ocr_compare_spark import synth

    rows = []
    for d in docs.to_pylist():
        doc_id, text = d["doc_id"], d["text"]
        pdf = synth.is_pdf_doc(doc_id)
        payload = synth.build_pdf(doc_id, text) if pdf else synth.build_html(doc_id, text)
        if doc_id in changed:
            payload += RECRAWL_SUFFIX[pdf]
        ts = datetime.fromtimestamp(
            synth.EPOCH_2025 + (doc_id % synth.TS_SPAN_MIN) * 60, tz=timezone.utc
        )
        for copy in range(PAGE_COPIES):
            url = synth.url_of(doc_id) + (f"?copy={copy}" if copy else "")
            rows.append((url, ts, payload, text, d["lang"], doc_id))
    random.Random(seed).shuffle(rows)
    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(rows) // n_files)
    for i in range(n_files):
        chunk = rows[i * step : (i + 1) * step]
        table = pa.table(
            {
                "url": [r[0] for r in chunk],
                "warc_ts": pa.array([r[1] for r in chunk], pa.timestamp("us", tz="UTC")),
                "html": pa.array([r[2] for r in chunk], pa.binary()),
                "text": [r[3] for r in chunk],
                "lang": [r[4] for r in chunk],
            }
        )
        pq.write_table(table, os.path.join(out_dir, f"part-{i:03d}.parquet"))
    return {r[0]: (r[5], r[3], r[2]) for r in rows}


def expected_winner(doc_id: int, text: str) -> str:
    from ocr_compare_spark import synth

    if synth.is_pdf_doc(doc_id):
        return synth.expected_pdf_text(text, doc_id)
    return synth.expected_density_text(text, doc_id)


def read_dir(path: str, columns: list[str]) -> pa.Table:
    """A Spark-written parquet directory, read without Spark."""
    return pq.read_table(path, columns=columns)


def count_mismatches(got: dict, want: dict) -> int:
    """Urls of ``want`` whose value in ``got`` is missing or differs,
    plus urls ``got`` has and ``want`` does not."""
    bad = sum(1 for u, v in want.items() if got.get(u) != v)
    return bad + sum(1 for u in got if u not in want)


def error_urls(path: str) -> set:
    t = read_dir(path, ["url", "error"]).to_pydict()
    return {u for u, e in zip(t["url"], t["error"]) if e is not None}


def set_partitions(spark, n: int) -> None:
    spark.conf.set("spark.sql.shuffle.partitions", str(n))


# --------------------------------------------------------- workloads


class Workload:
    name = ""

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx

    @property
    def spark(self):
        return self.ctx.spark

    def build(self) -> None:
        """Build the inputs and the expected outputs, without Spark, so
        that it can run while the session starts (untimed)."""
        raise NotImplementedError

    def load(self) -> None:
        """The input table, once the session is up."""
        self.pages_df = self.spark.read.parquet(self.ctx.path("pages"))

    def iteration(self, tr, par: int) -> None:
        """One timed pipeline run at ``par``-way parallelism."""
        raise NotImplementedError

    def check(self) -> tuple[int, int]:
        """(documents attempted, documents failed) of the last
        iteration: missing, engine error, or not the expected output."""
        raise NotImplementedError

    def _pages(self, par: int):
        """The input table; at 1-way parallelism one partition."""
        return self.pages_df if par == self.ctx.par else self.pages_df.coalesce(par)

    def _load_pages(self) -> dict:
        rows = build_pages(self.ctx.docs, self.ctx.seed, self.ctx.path("pages"), self.ctx.par)
        self.rows = rows
        self.n_pages = len(rows)
        return rows


class CrawlExtractCompare(Workload):
    """The ``plans/job.py`` pipeline: fused 3-engine extraction to a
    staged table, then pick_winner, then pairwise_compare with
    alignment."""

    name = "crawl_extract_compare"

    def build(self) -> None:
        rows = self._load_pages()
        self.want = {u: expected_winner(d, t) for u, (d, t, _) in rows.items()}
        from ocr_compare_spark import synth

        self.html_urls = {u for u, (d, _, _) in rows.items() if not synth.is_pdf_doc(d)}

    def iteration(self, tr, par: int) -> None:
        from ocr_compare_spark.operators.compare import pairwise_compare
        from ocr_compare_spark.operators.extract import run_engines_fused
        from ocr_compare_spark.operators.winner import pick_winner
        from ocr_compare_spark.sources import metrics as mx

        spark, path = self.spark, self.ctx.path
        set_partitions(spark, par)
        with tr.span("extract"):
            results = run_engines_fused(self._pages(par), with_spans=False, num_partitions=par)
            observed, _ = mx.observe_extraction(results.drop("spans"))
            observed.write.mode("overwrite").parquet(path("staged"))
        staged = spark.read.parquet(path("staged"))
        with tr.span("winner"):
            pick_winner(staged).write.mode("overwrite").parquet(path("winners"))
        with tr.span("compare"):
            key = "spark.sql.adaptive.coalescePartitions.enabled"
            spark.conf.set(key, "false")
            try:
                pairwise_compare(staged, with_alignment=True).drop(
                    "lcs_spans", "text_a", "text_b"
                ).write.mode("overwrite").parquet(path("compare"))
            finally:
                spark.conf.set(key, "true")

    def check(self) -> tuple[int, int]:
        path = self.ctx.path
        w = read_dir(path("winners"), ["url", "doc_text"]).to_pydict()
        bad = {u for u, t in zip(w["url"], w["doc_text"]) if self.want.get(u) != t}
        bad |= set(self.want) - set(w["url"])
        bad |= error_urls(path("staged"))
        c = read_dir(path("compare"), ["url", "cer", "wer"]).to_pydict()
        ok_pairs = {u for u, a, b in zip(c["url"], c["cer"], c["wer"]) if a is not None and b is not None}
        bad |= self.html_urls ^ ok_pairs
        if len(c["url"]) != len(self.html_urls):  # one (density, dom) pair per html url
            bad |= self.html_urls
        return len(self.want), len(bad)


class SpansAssemble(Workload):
    """The flat dom span stream, then hierarchical text assembly."""

    name = "spans_assemble"

    def build(self) -> None:
        from ocr_compare_spark import synth

        rows = self._load_pages()
        # the dom engine handles html payloads only: pdf urls emit no rows
        self.want = {
            u: synth.expected_dom_text(t, d)
            for u, (d, t, _) in rows.items()
            if not synth.is_pdf_doc(d)
        }

    def iteration(self, tr, par: int) -> None:
        from ocr_compare_spark.operators.assemble import assemble_doc_text
        from ocr_compare_spark.operators.extract import ASSEMBLY_SPAN_FIELDS, extract_spans_stream

        # plans/job.py sizes the span shuffle by data volume: ~2000 docs a partition
        set_partitions(self.spark, max(par, self.n_pages // 2000) if par > 1 else 1)
        with tr.span("spans_assemble"):
            spans = extract_spans_stream(
                self._pages(par), engines=("dom",), num_partitions=par, fields=ASSEMBLY_SPAN_FIELDS
            )
            assemble_doc_text(spans).write.mode("overwrite").parquet(self.ctx.path("assembled"))

    def check(self) -> tuple[int, int]:
        a = read_dir(self.ctx.path("assembled"), ["url", "engine", "doc_text"]).to_pydict()
        got = {u: t for u, e, t in zip(a["url"], a["engine"], a["doc_text"]) if e == "dom"}
        bad = count_mismatches(got, self.want) + (len(a["url"]) - len(got))
        return len(self.want), bad


WORKLOADS = {w.name: w for w in (CrawlExtractCompare, SpansAssemble)}


# ----------------------------------------------------- reference job


def _words(batches):
    """One row per whitespace-separated word of every payload."""
    import pandas as pd

    for pdf in batches:
        urls, pos, words = [], [], []
        for url, html in zip(pdf["url"], pdf["html"]):
            for i, w in enumerate(html.decode("utf-8", "replace").split()):
                urls.append(url)
                pos.append(i)
                words.append(w)
        yield pd.DataFrame({"url": urls, "pos": pos, "word": words})


class Reference:
    """A fixed Spark job over the workload's pages that runs none of
    the library's code: a Python UDF returning one row per word, a
    shuffle by url, and the words joined back in order. Its wall time
    is the yardstick for the host's speed at that moment (see
    README.md, "Steadiness"): the same mix of Python workers, Arrow
    transfer and JVM aggregation as the workloads, so a slow spell of
    the host slows it by about as much."""

    def __init__(self, wl: Workload) -> None:
        self.wl = wl
        self.want = {u: " ".join(p.decode("utf-8", "replace").split()) for u, (_, _, p) in wl.rows.items()}

    def run(self, par: int) -> None:
        from pyspark.sql import functions as F

        set_partitions(self.wl.spark, par)
        words = self.wl.pages_df.select("url", "html").mapInPandas(_words, "url string, pos int, word string")
        ordered = F.array_sort(F.collect_list(F.struct("pos", "word")))
        text = F.array_join(F.transform(ordered, lambda s: s["word"]), " ")
        words.groupBy("url").agg(text.alias("text")).write.mode("overwrite").parquet(
            self.wl.ctx.path("reference")
        )

    def check(self) -> None:
        t = read_dir(self.wl.ctx.path("reference"), ["url", "text"]).to_pydict()
        if count_mismatches(dict(zip(t["url"], t["text"])), self.want):
            raise RuntimeError("the reference job's output is wrong")
