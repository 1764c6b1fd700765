"""The benchmark workloads.

Each workload builds its inputs from the seed, runs one closed-loop
iteration on demand (the benchmark submits one fixed input table and
waits for it), checks its outputs, and turns a status-store window and a replay
trace into per-layer metrics.  Only public entry points of the program are
called: ``pipeline.run_pipeline``/``warmup``, ``stages.convert_stage``/
``extract_stage``/``with_typed_data``, ``curate.curate`` and the
``webgraph`` functions.
"""

from __future__ import annotations

import copy
import functools
import hashlib
import os
import random
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from extractor_spark.engine.convert import HtmlExtractionOptions
from extractor_spark.engine.extract_llm import MarkdownRuleExtractor, generate_extraction_prompt
from extractor_spark.spark import webgraph
from extractor_spark.spark.curate import curate
from extractor_spark.spark.pipeline import PipelineConfig, run_pipeline, warmup
from extractor_spark.spark.stages import convert_stage, extract_stage, with_typed_data

from perfbench import corpus, simclient, spans
from perfbench.sparkstats import StatusReader, Window

import __spark_entry__

# BLOG_SCHEMA with ``title`` optional.  The title is the page's <h1>, which
# sits in the page <header>; the main-content heuristic drops the header, so
# under BLOG_SCHEMA 94% of main-content documents fail validation and the
# extraction would time its error path.  With the title optional every
# document validates and every field the heuristic keeps is filled.
SCHEMA = copy.deepcopy(__spark_entry__.BLOG_SCHEMA)
SCHEMA["properties"]["title"]["optional"] = True
SCHEMA["required"] = [k for k in SCHEMA["required"] if k != "title"]

N_BUCKETS = 16
GRAPH_ROUNDS = 3
TRUST_SEEDS = ["site-00.example.org", "site-01.example.org"]
ERROR_CLASSES = {
    "SimTransientError": "transient",
    "SimRateLimitError": "rate_limit",
    "SimTimeoutError": "timeout",
    "SimPermanentError": "permanent",
    "ExtractionError": "validation",
}
ENGINE_LAYERS = sorted({name for _owner, _attr, name in spans.LAYERS} | {"extract_llm.client"})
GRAPH_STEPS = ("outlinks", "pagerank", "hits", "spam_mass")


@dataclass
class Iteration:
    docs: int
    seconds: float = 0.0
    detail: dict = field(default_factory=dict)


def _quantile(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    ordered = sorted(values)
    return ordered[min(len(ordered) - 1, int(q * len(ordered)))]


def _error_class(error: str) -> str:
    return ERROR_CLASSES.get(error.split(":", 1)[0], "other")


def _is_convert_node(node: dict) -> bool:
    return "convert_error#" in node["desc"] and "data_json#" not in node["desc"]


def _is_extract_node(node: dict) -> bool:
    return "data_json#" in node["desc"]


def _node_sum(win: Window, match, metric: str) -> float:
    return sum(
        node["metrics"].get(metric, 0.0)
        for ex in win.executions
        for node in ex["nodes"]
        if node["name"] == "MapInPandas" and match(node)
    )


def python_boot_s(win: Window) -> float:
    """Python-worker start + initialize time of every MapInPandas node."""
    return sum(
        _node_sum(win, lambda _n: True, m)
        for m in ("time to start Python workers", "time to initialize Python workers")
    )


def spark_layers(win: Window, iterations: int) -> dict:
    """Per-iteration Spark-side layer figures from a status-store window."""
    k = 1.0 / iterations
    mib = k / 2**20
    scan_s = sum(
        node["metrics"].get("scan time", 0.0)
        for ex in win.executions
        for node in ex["nodes"]
        if node["name"].startswith("Scan")
    )
    out = {
        "sources.scan_s": scan_s * k,
        "pipeline.shuffle.task_s": sum(s["run_s"] for s in win.stages if s["shuffle_write_mb"] > 0) * k,
        "pipeline.shuffle.write_mb": win.stage_sum("shuffle_write_mb") * k,
        "pipeline.spill_mb": win.stage_sum("spill_mb") * k,
        "pipeline.gc_s": win.stage_sum("gc_s") * k,
        "pipeline.output_mb": win.stage_sum("output_mb") * k,
        "pipeline.manifest_s": win.execution_seconds("_manifest") * k,
        "pipeline.spark_jobs": win.jobs * k,
        "stages.task_s": win.stage_sum("run_s") * k,
        "stages.python_init_s": python_boot_s(win) * k,
    }
    for stage, match in (("convert", _is_convert_node), ("extract", _is_extract_node)):
        out[f"stages.{stage}.python_s"] = _node_sum(win, match, "time to run Python workers") * k
        out[f"stages.{stage}.sent_mb"] = _node_sum(win, match, "data sent to Python workers") * mib
        out[f"stages.{stage}.received_mb"] = _node_sum(win, match, "data returned from Python workers") * mib
    return out


class Workload:
    """Common shape: a seeded corpus, a warm-up, one iteration on demand."""

    name = ""
    n_pages = 0
    recrawls = True
    nominal_s = 1.0  # one iteration's wall time on the reference host
    warm_iterations = 0  # untimed iterations before the measured ones
    replay_docs = 64
    schema: dict | None = None
    options = HtmlExtractionOptions()

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.pages_path = os.path.join(work, "pages")
        self.out_path = os.path.join(work, "out")
        self.counts: dict = {}
        self.sample: list[str] = []
        self.sample_rows: dict[str, dict] = {}
        self.reader: StatusReader | None = None  # set for traced runs
        self.replay_wall = 0.0  # seconds of the last replay's document loop

    # -- set-up ------------------------------------------------------------
    def write_inputs(self, spark: SparkSession) -> None:
        corpus.write_corpus(spark, self.pages_path, self.seed, self.n_pages, self.recrawls)

    def warm(self, spark: SparkSession) -> None:
        warmup(spark, self.pages_path, schema=self.schema)

    def describe_inputs(self, spark: SparkSession) -> dict:
        self.counts = corpus.corpus_counts(spark, self.pages_path, self.n_pages, self.recrawls)
        return self.counts

    @property
    def docs(self) -> int:
        return self.counts["distinct_urls"]

    # -- the measured iteration ----------------------------------------------
    def run_once(self, spark: SparkSession) -> Iteration:
        raise NotImplementedError

    # -- checks --------------------------------------------------------------
    def check(self, spark: SparkSession, iterations: list[Iteration]) -> tuple[dict, list[str]]:
        """Check the last iteration's output; returns (facts, problems)."""
        out = spark.read.parquet(self.out_path)
        error_cols = [c for c in ("convert_error", "extract_error") if c in out.columns]
        rows = out.select(
            "url", F.sha2(F.to_json(F.struct(*sorted(out.columns))), 256).alias("h"), *error_cols
        ).collect()
        urls = [r["url"] for r in rows]
        problems = []
        input_urls = {r["url"] for r in spark.read.parquet(self.pages_path).select("url").distinct().collect()}
        if len(urls) != len(set(urls)) or set(urls) != input_urls:
            problems.append(f"output has {len(rows)} rows over {len(set(urls))} urls; input has {len(input_urls)}")
        if len({i.docs for i in iterations}) != 1:
            problems.append(f"iterations disagree on docs: {[i.docs for i in iterations]}")
        errors: dict[str, int] = {}
        for r in rows:
            error = next((r[c] for c in error_cols if r[c] is not None), None)
            if error is not None:
                cls = "convert" if r["convert_error"] is not None else _error_class(error)
                errors[cls] = errors.get(cls, 0) + 1
        facts = {
            "output_digest": hashlib.sha256(
                "\n".join(sorted(f"{r['url']}\t{r['h']}" for r in rows)).encode()
            ).hexdigest(),
            "output_rows": len(rows),
            "ok_rows": len(rows) - sum(errors.values()),
            "errors": errors,
            "unexpected_failures": self.unexpected_failures(spark, errors),
        }
        if facts["unexpected_failures"]:
            problems.append(f"{facts['unexpected_failures']} rows failed: {errors}")
        self.sample = self.replay_sample(urls)
        self.sample_rows = {r["url"]: r.asDict() for r in out.filter(F.col("url").isin(self.sample)).collect()}
        problems += self.replay(spark)
        return facts, problems

    def unexpected_failures(self, spark: SparkSession, errors: dict) -> int:
        return sum(errors.values())

    def replay_sample(self, urls: list[str]) -> list[str]:
        """Seeded sample of output urls, plus every PDF (the PDF layer would
        otherwise be absent from most samples)."""
        ordered = sorted(urls)
        pdfs = [u for u in ordered if u.endswith(".pdf")]
        rest = [u for u in ordered if not u.endswith(".pdf")]
        return pdfs + random.Random(self.seed).sample(rest, min(len(rest), self.replay_docs))

    def latest_pages(self, spark: SparkSession, urls: list[str]) -> dict[str, bytes]:
        """url → html of its latest crawl, for the given urls."""
        latest: dict[str, tuple] = {}
        pages = spark.read.parquet(self.pages_path).filter(F.col("url").isin(urls))
        for r in pages.select("url", "warc_ts", "html").collect():
            if r["url"] not in latest or r["warc_ts"] > latest[r["url"]][0]:
                latest[r["url"]] = (r["warc_ts"], bytes(r["html"]))
        return {u: v[1] for u, v in latest.items()}

    def replay(self, spark: SparkSession, recorder: spans.SpanRecorder | None = None, wait: bool = False) -> list[str]:
        """Re-run the sample in this process (under spans when ``recorder`` is
        given) and compare with the Spark output rows; returns mismatches.
        ``wait``: let the simulated model really wait (traced replays)."""
        pages = self.latest_pages(spark, self.sample)
        span = recorder.span if recorder is not None else (lambda _name, fn, *args: fn(*args))
        started = time.perf_counter()
        replayed = {}
        for url in self.sample:
            if recorder is not None:
                recorder.url = url
            replayed[url] = self.replay_doc(url, pages[url], span, recorder, wait)
        self.replay_wall = time.perf_counter() - started
        return [
            f"{key} replay differs for {url}"
            for url, rec in replayed.items()
            for key, value in rec.items()
            if self.sample_rows[url][key] != value
        ]

    def replay_doc(self, url: str, html: bytes, span, recorder, wait: bool) -> dict:
        markdown, text = span("convert", spans.replay_convert, url, html, self.options)
        return {"markdown": markdown, "text": text}

    # -- per-layer -----------------------------------------------------------
    def layer_metrics(self, win: Window, iterations: list[Iteration]) -> dict:
        """Per-iteration layer figures of this workload's own layers; the
        caller fills every other per-layer metric with 0."""
        return spark_layers(win, len(iterations))

    def replay_metrics(self, recorder: spans.SpanRecorder, python_s: float) -> dict:
        """Layer figures from a traced replay, scaled from the replayed
        sample to one iteration's documents."""
        n = max(1, len(self.sample))
        scale = self.docs / n
        own = recorder.self_times()
        calls = recorder.counts()
        out = {f"{name}.self_s": own.get(name, 0.0) * scale for name in ENGINE_LAYERS}
        out["dom.parse.calls_per_doc"] = calls.get("dom.parse", 0) / n
        out["turndown_md.calls_per_doc"] = calls.get("turndown_md", 0) / n
        out["extract_llm.client.calls_per_doc"] = calls.get("extract_llm.client", 0) / n
        out["jsonfix.calls"] = calls.get("jsonfix", 0) * scale
        for doc in spans.DOC_SPANS:
            durations = recorder.durations_ms(doc)
            out[f"{doc}.doc_p50_ms"] = _quantile(durations, 0.5)
            out[f"{doc}.doc_p99_ms"] = _quantile(durations, 0.99)
        engine_s = sum(own.get(name, 0.0) for name in list(ENGINE_LAYERS) + list(spans.DOC_SPANS)) * scale
        out["stages.overhead_share"] = 1.0 - engine_s / python_s if python_s > 0 else 0.0
        return out


class ConvertBulk(Workload):
    """Fused convert-only pipeline: tidy → turndown → text projection and the
    Arrow transport do nearly all the work."""

    name = "convert_bulk"
    n_pages = 1200
    nominal_s = 3.0
    # the first iteration runs ~40% slower while the JIT and the Python
    # workers warm up
    warm_iterations = 1

    def run_once(self, spark: SparkSession) -> Iteration:
        summary = run_pipeline(
            spark,
            PipelineConfig(
                pages_path=self.pages_path, output_path=self.out_path, n_buckets=N_BUCKETS, resume=False
            ),
        )
        return Iteration(docs=summary["docs"], detail={"waves_s": sum(summary["wave_seconds"])})

    def layer_metrics(self, win: Window, iterations: list[Iteration]) -> dict:
        out = super().layer_metrics(win, iterations)
        out["pipeline.waves_s"] = sum(i.detail["waves_s"] for i in iterations) / len(iterations)
        return out


class LlmCurate(Workload):
    """Main-content convert → extract against the simulated chat model →
    typed → write, then ``curate`` over that output and host-graph
    PageRank, HITS and spam-mass ranks with fixed rounds over the pages."""

    name = "llm_curate"
    n_pages = 80
    nominal_s = 20.0
    recrawls = False  # the stage chain has no dedup: one output row per input row
    replay_docs = 8  # traced replays wait on the model; keep them short
    schema = SCHEMA
    options = HtmlExtractionOptions(extract_main_html=True)

    def __init__(self, seed: int, work: str) -> None:
        super().__init__(seed, work)
        self.curated_path = os.path.join(work, "curated")

    def _phase(self, detail: dict, name: str, mark) -> object:
        """Close the status-store window of phase ``name`` (traced runs)."""
        if self.reader is None:
            return None
        detail[f"{name}_window"] = self.reader.since(mark)
        return self.reader.mark()

    def run_once(self, spark: SparkSession) -> Iteration:
        detail: dict = {"stage_times": {}}
        mark = self.reader.mark() if self.reader else None
        pages = spark.read.parquet(self.pages_path).select("url", "warc_ts", "html", "lang")
        # 4 tasks per core slot; each task waits for every model reply in turn
        extracted = extract_stage(
            convert_stage(pages.repartition(4 * spark.sparkContext.defaultParallelism), self.options),
            self.schema,
            client_factory=functools.partial(simclient.SimChatClient, self.seed),
        )
        with_typed_data(extracted, self.schema).write.mode("overwrite").parquet(self.out_path)
        mark = self._phase(detail, "extract", mark)
        stats = curate(spark, self.out_path, self.curated_path, stage_times=detail["stage_times"])
        mark = self._phase(detail, "curate", mark)
        t2 = time.perf_counter()
        edges = webgraph.host_graph(webgraph.extract_outlinks(pages)).localCheckpoint()
        t3 = time.perf_counter()
        pr_mark = self.reader.mark() if self.reader else None
        ranks = webgraph.pagerank(edges, max_iter=GRAPH_ROUNDS, tol=0.0).collect()
        self._phase(detail, "pagerank", pr_mark)
        t4 = time.perf_counter()
        hubs = webgraph.hits(edges, max_iter=GRAPH_ROUNDS).collect()
        t5 = time.perf_counter()
        pr, tr = webgraph.spam_mass_ranks(edges, TRUST_SEEDS, max_iter=GRAPH_ROUNDS, tol=0.0)
        pr, tr = pr.collect(), tr.collect()
        t6 = time.perf_counter()
        edges.unpersist()
        self._phase(detail, "graph", mark)
        detail["curate_stats"] = {k: v for k, v in stats.items() if k != "output_path"}
        detail["graph_s"] = dict(zip(GRAPH_STEPS, (t3 - t2, t4 - t3, t5 - t4, t6 - t5)))
        detail["masses"] = {
            "pagerank": sum(r["rank"] for r in ranks),
            "hub": sum(r["hub"] for r in hubs),
            "authority": sum(r["authority"] for r in hubs),
            "spam_mass.pagerank": sum(r["rank"] for r in pr),
            "spam_mass.trustrank": sum(r["rank"] for r in tr),
        }
        ranked = sorted(f"{r['host']}:{r['rank']:.9e}" for r in ranks + pr + tr)
        detail["rank_digest"] = hashlib.sha256("\n".join(ranked).encode()).hexdigest()
        return Iteration(docs=self.docs, detail=detail)

    def replay_doc(self, url: str, html: bytes, span, recorder, wait: bool) -> dict:
        rec = super().replay_doc(url, html, span, recorder, wait)
        client = simclient.SimChatClient(self.seed, sleep=time.sleep if wait else lambda _s: None)
        if recorder is not None:
            client.invoke = recorder.wrap("extract_llm.client", client.invoke)
        rec["data_json"], rec["extract_error"] = span(
            "extract", spans.replay_extract, rec["markdown"], self.schema, client
        )
        return rec

    def unexpected_failures(self, spark: SparkSession, errors: dict) -> int:
        """Every success must be the rule extractor's answer and every
        failure the fault the simulated client injects for that request."""
        rules = MarkdownRuleExtractor()
        bad = 0
        out = spark.read.parquet(self.out_path)
        for r in out.select("markdown", "data_json", "convert_error", "extract_error").collect():
            if r["convert_error"] is not None or r["markdown"] is None:
                bad += 1
            elif r["extract_error"] is None:
                bad += spans.replay_extract(r["markdown"], self.schema, rules) != (r["data_json"], None)
            else:
                prompt = generate_extraction_prompt("markdown", r["markdown"], None, None)
                injected = simclient.outcome(self.seed, simclient.request_key(prompt), 0).kind
                bad += injected != _error_class(r["extract_error"])
        return bad

    def check(self, spark: SparkSession, iterations: list[Iteration]) -> tuple[dict, list[str]]:
        facts, problems = super().check(spark, iterations)
        first = iterations[0].detail
        for it in iterations[1:]:
            if it.detail["curate_stats"] != first["curate_stats"]:
                problems.append("curate stage counts differ between iterations")
            if it.detail["rank_digest"] != first["rank_digest"]:
                problems.append("ranks differ between iterations")
        if first["curate_stats"]["input_docs"] != facts["output_rows"]:
            problems.append(f"curate read {first['curate_stats']['input_docs']} of {facts['output_rows']} docs")
        for name, mass in first["masses"].items():
            if abs(mass - 1.0) > 1e-6:
                problems.append(f"{name} mass is {mass}, not 1")
        curated = spark.read.json(self.curated_path)
        rows = curated.select(F.sha2(F.to_json(F.struct(*sorted(curated.columns))), 256).alias("h")).collect()
        facts["curated_digest"] = hashlib.sha256("\n".join(sorted(r["h"] for r in rows)).encode()).hexdigest()
        facts["curate_stats"] = first["curate_stats"]
        facts["rank_digest"] = first["rank_digest"]
        tokens = spark.read.parquet(self.out_path).agg(F.avg("input_tokens"), F.avg("output_tokens")).first()
        facts["input_tokens_per_doc"], facts["output_tokens_per_doc"] = tokens
        return facts, problems

    def layer_metrics(self, win: Window, iterations: list[Iteration]) -> dict:
        n = len(iterations)
        # the pipeline/stage figures cover the convert → extract → write phase
        extract = Window()
        for i in iterations:
            w = i.detail["extract_window"]
            extract.jobs += w.jobs
            extract.stages += w.stages
            extract.executions += w.executions
        out = spark_layers(extract, n)
        for stage in iterations[0].detail["stage_times"]:
            out[f"curate.{stage}_s"] = sum(i.detail["stage_times"][stage] for i in iterations) / n
        for step in GRAPH_STEPS:
            out[f"webgraph.{step}_s"] = sum(i.detail["graph_s"][step] for i in iterations) / n
        cw = [i.detail["curate_window"] for i in iterations]
        out["curate.shuffle.write_mb"] = sum(w.stage_sum("shuffle_write_mb") for w in cw) / n
        out["curate.spill_mb"] = sum(w.stage_sum("spill_mb") for w in cw) / n
        out["curate.spark_jobs"] = sum(w.jobs for w in cw) / n
        out["webgraph.spark_jobs"] = sum(i.detail["graph_window"].jobs for i in iterations) / n
        out["webgraph.jobs_per_round"] = sum(i.detail["pagerank_window"].jobs for i in iterations) / n / GRAPH_ROUNDS
        stats = iterations[0].detail["curate_stats"]
        out["curate.keep_share.exact"] = stats["after_exact_dedup"] / stats["input_docs"]
        out["curate.keep_share.neardup"] = stats["after_neardup_dedup"] / stats["after_exact_dedup"]
        out["curate.keep_share.quality"] = stats["after_quality_filter"] / stats["after_neardup_dedup"]
        return out


WORKLOADS = {w.name: w for w in (ConvertBulk, LlmCurate)}
