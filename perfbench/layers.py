"""Per-layer timings taken from outside the program.

The traced run calls each layer's public function on staged inputs,
one span (and so one Spark job group) per call, and reads the layer's
Spark metrics back from the status stores. The engines, result
assembly and alignment are also timed per call in the Spark driver
process on a seeded sample of payloads.
"""

from __future__ import annotations

import glob
import hashlib
import os
import random
import statistics
import time

import pyarrow.parquet as pq

import corpus
from workloads import RECRAWL_FRAC, build_pages, set_partitions

MICRO_HTML, MICRO_PDF, MICRO_REPEATS = 200, 50, 3


def _rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(os.path.join(path, "*.parquet")))


def _per_call_us(fn, items) -> float:
    """Median over MICRO_REPEATS passes of the mean time per call."""
    passes = []
    for _ in range(MICRO_REPEATS):
        t = time.perf_counter()
        for x in items:
            fn(x)
        passes.append((time.perf_counter() - t) / len(items) * 1e6)
    return statistics.median(passes)


def engine_micro(rows: dict, seed: int) -> dict:
    """Driver-process per-call timings of the engines, doc_to_result
    and align_metrics on a seeded sample of distinct payloads."""
    from ocr_compare_spark import synth
    from ocr_compare_spark.engines.base import create_engine
    from ocr_compare_spark.engines.density import density_from_raws
    from ocr_compare_spark.engines.dom_heuristic import dom_from_raws
    from ocr_compare_spark.engines.html_tree import segment_html
    from ocr_compare_spark.engines.pdf_stream import parse_pdf
    from ocr_compare_spark.operators.compare import align_metrics
    from ocr_compare_spark.operators.extract import doc_to_result

    payloads = {d: p for d, _, p in rows.values()}
    rng = random.Random(seed)
    html_ids = sorted(d for d in payloads if not synth.is_pdf_doc(d))
    pdf_ids = sorted(d for d in payloads if synth.is_pdf_doc(d))
    html = [payloads[d] for d in rng.sample(html_ids, min(MICRO_HTML, len(html_ids)))]
    pdfs = [payloads[d] for d in rng.sample(pdf_ids, min(MICRO_PDF, len(pdf_ids)))]

    raws = [segment_html(p) for p in html]
    conf = {n: create_engine(n).confidence for n in ("dom", "density", "pdf")}
    parsed = (
        [(dom_from_raws(r), conf["dom"]) for r in raws]
        + [(density_from_raws(r), conf["density"]) for r in raws]
        + [(parse_pdf(p), conf["pdf"]) for p in pdfs]
    )
    texts = {
        eng: [doc_to_result(fn(r), conf[eng], False)["doc_text"] for r in raws]
        for eng, fn in (("dom", dom_from_raws), ("density", density_from_raws))
    }
    pairs = list(zip(texts["density"], texts["dom"]))
    return {
        "engines.segment_html.us_per_doc": _per_call_us(segment_html, html),
        "engines.dom_from_raws.us_per_doc": _per_call_us(dom_from_raws, raws),
        "engines.density_from_raws.us_per_doc": _per_call_us(density_from_raws, raws),
        "engines.parse_pdf.us_per_doc": _per_call_us(parse_pdf, pdfs),
        "extract.doc_to_result.us_per_doc": _per_call_us(lambda pc: doc_to_result(pc[0], pc[1], False), parsed),
        "compare.align_metrics.us_per_pair": _per_call_us(lambda ab: align_metrics(*ab), pairs),
    }


def sweep(ctx, wl, tracer, harvester) -> dict:
    """Call every layer once on staged inputs (the workload's pages and
    what the earlier layers wrote), each in its own span. Returns the
    per-layer metrics keyed ``<layer>.<metric>``."""
    from pyspark.sql import functions as F

    from ocr_compare_spark.operators import textstats
    from ocr_compare_spark.operators.assemble import assemble_doc_text
    from ocr_compare_spark.operators.compare import pairwise_compare
    from ocr_compare_spark.operators.dedup import dedup_keep_list, lsh_candidates, release_lsh_cache
    from ocr_compare_spark.operators.extract import (
        ASSEMBLY_SPAN_FIELDS,
        extract_spans_stream,
        run_engines_fused,
    )
    from ocr_compare_spark.operators.winner import pick_winner
    from ocr_compare_spark.sources.cache import cached_extract

    spark, par, path = ctx.spark, ctx.par, ctx.path
    pages_df = wl.pages_df
    out: dict[str, float] = {}

    def layer(name: str, fn, keys: tuple = ()):
        """Run ``fn`` in its own span; record its wall time and the
        ``keys`` of its harvested Spark metrics. Returns fn's result."""
        with tracer.span(name) as sp:
            result = fn()
        h = harvester.group(sp["group"])["metrics"]
        sp["spark"] = h
        out[f"{name}.wall_s"] = sp["end"] - sp["start"]
        for key in keys:
            out[f"{name}.{key}"] = h[key]
        return result

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    set_partitions(spark, par)
    layer(
        "extract",
        lambda: run_engines_fused(pages_df, with_spans=False, num_partitions=par)
        .drop("spans").write.mode("overwrite").parquet(path("sweep_staged")),
        ("py_init_s", "py_run_s", "arrow_in_mb", "arrow_out_mb"),
    )
    out["extract.rows_out"] = _rows(path("sweep_staged"))
    staged = spark.read.parquet(path("sweep_staged"))

    layer(
        "winner",
        lambda: pick_winner(staged).write.mode("overwrite").parquet(path("sweep_winners")),
        ("shuffle_write_mb",),
    )
    winners = spark.read.parquet(path("sweep_winners"))

    def compare() -> None:
        key = "spark.sql.adaptive.coalescePartitions.enabled"
        spark.conf.set(key, "false")
        try:
            pairwise_compare(staged, with_alignment=True).drop("lcs_spans").write.mode(
                "overwrite"
            ).parquet(path("sweep_compare"))
        finally:
            spark.conf.set(key, "true")

    layer("compare", compare, ("py_run_s", "shuffle_write_mb"))
    out["compare.pairs"] = _rows(path("sweep_compare"))

    layer(
        "extract_spans",
        lambda: extract_spans_stream(
            pages_df, engines=("dom",), num_partitions=par, fields=ASSEMBLY_SPAN_FIELDS
        ).write.mode("overwrite").parquet(path("sweep_spans")),
        ("py_run_s", "arrow_out_mb"),
    )
    out["extract_spans.rows_out"] = _rows(path("sweep_spans"))
    set_partitions(spark, max(par, wl.n_pages // 2000))  # as plans/job.py sizes assembly
    layer(
        "assemble",
        lambda: noop(assemble_doc_text(spark.read.parquet(path("sweep_spans")))),
        ("shuffle_write_mb", "spill_mb", "gc_s"),
    )
    set_partitions(spark, par)

    # cache: crawl one fills it (untimed), the span reads crawl two
    changed = set(corpus.changed_doc_ids(ctx.docs, RECRAWL_FRAC, ctx.seed))
    build_pages(ctx.docs, ctx.seed, path("sweep_crawl1"), par)
    crawl2 = build_pages(ctx.docs, ctx.seed, path("sweep_crawl2"), par, changed)
    cache_dir = path("sweep_cache")
    cached_extract(spark, spark.read.parquet(path("sweep_crawl1")), cache_dir, num_partitions=par)
    before = set(glob.glob(os.path.join(cache_dir, "*.parquet")))

    def cache():
        served, fresh = cached_extract(
            spark, spark.read.parquet(path("sweep_crawl2")), cache_dir,
            num_partitions=par, return_fresh=True,
        )
        served.write.mode("overwrite").parquet(path("sweep_cache_served"))
        return fresh.count(), fresh

    fresh_rows, fresh = layer("cache", cache, ("shuffle_write_mb",))
    # fresh rows are keyed by content hash (cached_extract's url column)
    fresh_hashes = {r[0] for r in fresh.select("url").collect()}
    miss_urls = sum(1 for _, _, p in crawl2.values() if hashlib.md5(p).hexdigest() in fresh_hashes)
    out["cache.fresh_rows"] = fresh_rows
    out["cache.hit_frac"] = 1.0 - miss_urls / len(crawl2)
    out["cache.append_mb"] = sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(cache_dir, "*.parquet")) if f not in before
    ) / (1024 * 1024)

    layer(
        "textstats",
        lambda: noop(
            textstats.with_text_stats(winners, "doc_text").withColumn(
                "lang_pred", textstats.langid_label("doc_text")
            )
        ),
    )
    keyed = winners.withColumn("doc_key", F.xxhash64("url"))
    layer(
        "dedup.lsh_candidates",
        lambda: lsh_candidates(
            keyed, "doc_key", "doc_text", verify_threshold=0.8, num_partitions=par
        ).write.mode("overwrite").parquet(path("sweep_pairs")),
        ("shuffle_write_mb",),
    )
    out["dedup.pairs"] = _rows(path("sweep_pairs"))
    layer(
        "dedup.dedup_keep_list",
        lambda: noop(dedup_keep_list(keyed, spark.read.parquet(path("sweep_pairs")), "doc_key")),
    )
    release_lsh_cache()
    return out
