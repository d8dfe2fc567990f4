"""Workloads: one pass = input to complete result through the public API,
timed span by span, followed by output checks outside the timed section.

Every workload keeps the same shape so ``run.py`` can drive any of them:
``prepare`` builds (or loads) the seeded inputs, ``run_pass`` returns a
``PassResult`` and ``warm_up`` makes the pass's calls untimed (the traced
run makes it before its traced pass).  Lazy results are forced inside
their span with an action that consumes every output column.
"""

from __future__ import annotations

import os
import shutil
import statistics
from collections import Counter
from dataclasses import asdict, dataclass, field
from urllib.parse import urlparse

from pyspark.sql import functions as F

from eget_spark import api
from eget_spark.operators.chunker import chunk_semantic
from eget_spark.operators.graph import pagerank
from eget_spark.pipeline import prepare_training_data
from eget_spark.plans.crawl import CrawlConfig, crawl
from eget_spark.synth import build_robots
from tests.oracle import oracle_markdown

from . import inputs, tracing
from .inputs import CRAWL_KIND, CRAWL_SPEC, INGEST_KIND, InputCache


@dataclass
class PassResult:
    wall_s: float
    metrics: dict  # end-to-end metrics of this pass (setup/rss/ops excluded)
    calls: int  # public calls made
    failed_calls: int  # calls that failed their check
    files: int = 0  # files handed to convert_files (ingest)
    failed_files: int = 0  # of those, files that did not convert
    errors: list[str] = field(default_factory=list)
    rounds: list[dict] = field(default_factory=list)  # RoundStats per round
    facts: dict = field(default_factory=dict)  # counts the per-layer metrics read


def _markdown_totals(pages) -> dict:
    md = F.col("markdown")
    r = pages.agg(
        F.count(md).alias("n"),
        F.coalesce(F.sum(F.octet_length(md)), F.lit(0)).alias("bytes"),
        F.coalesce(F.sum(F.crc32(md.cast("binary"))), F.lit(0)).alias("crc"),
    ).collect()[0]
    return {"n": r["n"], "bytes": r["bytes"], "crc": r["crc"]}


def _failed(errors: list[tuple[str, str]]) -> tuple[int, list[str]]:
    return len({call for call, _ in errors}), [f"{call}: {msg}" for call, msg in errors]


# fewer power iterations than pagerank's default 5: each iteration is a
# fixed ~1.5-2 s of Spark jobs here, and priorities only order a host's budget
PAGERANK_ITERATIONS = 2


class CrawlPolite:
    """PageRank priorities -> crawl() with robots, crawl delays, Bloom seen
    set, per-host cap and parquet round tables -> markdown action; checked
    by invariants."""

    name = "crawl_polite"
    # round_window 0.5 gives a 0.5 s-delay host 1 fetch per round, and the
    # max_rounds + 1 seeds on each such host (inputs.crawl_seeds) make every
    # round defer.  The page cap binds in round 1, so later rounds only
    # fetch what round 1 admitted or deferred: round 2 its ~24 admitted
    # links, rounds 3-4 one URL per delayed host, the same 8 fetches at
    # every seed.  round_p50_s, the mean of the middle two of four rounds,
    # is then two near-identical small rounds rather than one round whose
    # size depends on the seed
    config = dict(
        max_depth=10,
        max_pages=120,
        respect_robots_txt=True,
        use_bloom=True,
        max_pages_per_host=100,
        round_window=0.5,
        max_rounds=4,
    )

    def prepare(self, spark, cache: InputCache, seed: int, work: str) -> None:
        self.spark, self.cache, self.seed = spark, cache, seed
        path = cache.ensure(CRAWL_KIND, seed, inputs.build_crawl)
        self.docs = spark.read.parquet(os.path.join(path, "docs.parquet"))
        self.corpus = inputs.read_docs(os.path.join(path, "docs.parquet"))
        self.table_dir = os.path.join(work, "tables")
        self.robots = build_robots(spark, "medium").localCheckpoint()
        self.rules = {r["host"]: (list(r["disallow_prefixes"]), r["crawl_delay"]) for r in self.robots.collect()}
        delayed = {h for h, (_, delay) in self.rules.items() if delay > 0}
        self.seeds = inputs.crawl_seeds(CRAWL_SPEC, delayed, self.config["max_rounds"] + 1)

    def warm_up(self) -> None:
        """The pass's calls with one small round, untimed and unchecked."""
        res = self._crawl(self._priorities(), {**self.config, "max_pages": 32, "max_rounds": 1})
        _markdown_totals(res.pages)

    def _crawl(self, priorities, config: dict):
        shutil.rmtree(self.table_dir, ignore_errors=True)
        return crawl(
            self.spark,
            self.docs,
            CrawlConfig(seed_urls=self.seeds, restrict_domain=False, **config),
            robots=self.robots,
            table_dir=self.table_dir,
            priorities=priorities,
        )

    def run_pass(self, tracer) -> PassResult:
        with tracer.span("pass", workload=self.name) as root:
            with tracer.span("graph.pagerank"):
                priorities = self._priorities()
            with tracer.span("crawl.crawl") as crawl_span:
                res = self._crawl(priorities, self.config)
            with tracer.span("spans.markdown") as md_span:
                md = _markdown_totals(res.pages)
        stats = [asdict(s) for s in res.stats]
        attempted = sum(s["attempted"] for s in stats)
        crawl_s = crawl_span.seconds + md_span.seconds
        metrics = {
            "wall_s": root.seconds,
            "urls_per_s": attempted / crawl_s,
            "round_p50_s": statistics.median(s["duration_sec"] for s in stats),
            "docs_per_s": md["n"] / root.seconds,
        }
        errors = self.check(res, stats, md, priorities)
        failed, messages = _failed(errors)
        facts = {
            "markdown_bytes": md["bytes"],
            "bloom_bits": res.bloom_bits or 0,
            **_dir_totals(self.table_dir),
        }
        return PassResult(root.seconds, metrics, 3, failed, errors=messages, rounds=stats, facts=facts)

    def _priorities(self):
        """PageRank over the corpus link graph as (url, priority), the
        table ``jobs/crawl_job.py --priorities`` reads."""
        nodes = self.docs.select(F.col("doc_id").alias("id"))
        edges = self.docs.select(
            F.col("doc_id").alias("src"), F.explode("true_out_links").alias("dst")
        ).join(nodes.select(F.col("id").alias("dst")), "dst", "left_semi")
        return pagerank(nodes, edges, n_iter=PAGERANK_ITERATIONS).select(
            F.col("id").alias("url"), F.col("pr").alias("priority")
        ).localCheckpoint()

    def check(self, res, stats, md, priorities) -> list[tuple[str, str]]:
        cfg = self.config
        errors = []
        total_pr = priorities.agg(F.sum("priority")).collect()[0][0]
        if abs(total_pr - 1.0) > 1e-6:
            errors.append(("pagerank", f"ranks sum to {total_pr}"))
        order = res.order.select("seq", "url", "host").collect()
        seqs = [r["seq"] for r in order]
        if len(set(seqs)) != len(seqs):
            errors.append(("crawl", "duplicate seq values"))
        if len(order) != stats[-1]["seen_total"]:
            errors.append(("crawl", f"{len(order)} admitted rows, stats say {stats[-1]['seen_total']}"))
        per_host = Counter(r["host"] for r in order)
        if max(per_host.values()) > cfg["max_pages_per_host"]:
            errors.append(("crawl", f"host cap exceeded: {per_host.most_common(1)}"))
        for r in order:
            path = urlparse(r["url"]).path
            if any(path.startswith(p) for p in self.rules.get(r["host"], ([], 0))[0]):
                errors.append(("crawl", f"robots-disallowed URL admitted: {r['url']}"))
                break
        pages = res.pages.select("url", "host", "round", "status").collect()
        fetches = Counter((r["host"], r["round"]) for r in pages)
        for (host, rnd), n in fetches.items():
            delay = self.rules.get(host, ([], 0.0))[1]
            if delay > 0 and n > max(1, int(cfg["round_window"] // delay)):
                errors.append(("crawl", f"{host} fetched {n} URLs in round {rnd}"))
                break
        deferring = sum(1 for s in stats if s["deferred"] > 0)
        if deferring != cfg["max_rounds"]:
            errors.append(("crawl", f"{deferring} of {len(stats)} rounds deferred URLs, want {cfg['max_rounds']}"))
        ok = [r["url"] for r in pages if r["status"] == "ok"]
        if any(u not in self.corpus for u in ok) or any(
            r["url"] in self.corpus for r in pages if r["status"] != "ok"
        ):
            errors.append(("crawl", "page status disagrees with the corpus"))
        want = inputs.markdown_checksum(oracle_markdown(self.corpus[u]) for u in ok if u in self.corpus)
        if md != want or md["n"] == 0:
            errors.append(("markdown", f"markdown checksum {md} != oracle {want}"))
        counts = {
            "admitted": len(order),
            "pages_ok": len(ok),
            "pages": len(pages),
            "rounds": len(stats),
            "deferred": sum(s["deferred"] for s in stats),
        }
        scope = f"{self.name}:{sorted(cfg.items())}:{PAGERANK_ITERATIONS}"
        errors += [("crawl", m) for m in self.cache.check_counts(CRAWL_KIND, self.seed, scope, counts)]
        return errors


def _dir_totals(root: str) -> dict:
    """Bytes and data files under a round-table directory."""
    size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.startswith("part-"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return {"table_bytes": size, "table_files": files}


class Ingest:
    """convert_files, scrape_html, scrape, chunk (sentence), chunk_semantic
    and prepare_training_data on seeded inputs."""

    name = "ingest"
    STAGES = ("convert", "html.scrape", "scrape", "chunker.sentence", "chunker.semantic", "curate")

    def prepare(self, spark, cache: InputCache, seed: int, work: str) -> None:
        self.cache, self.seed = cache, seed
        path = cache.ensure(INGEST_KIND, seed, inputs.build_ingest)
        self.facts = cache.facts(INGEST_KIND, seed)

        def read(name):
            return spark.read.parquet(os.path.join(path, f"{name}.parquet"))

        self.docs, self.files, self.html, self.urls, self.texts = (
            read(n) for n in ("docs", "files", "html", "urls", "texts")
        )

    def warm_up(self) -> None:
        """One full pass, untimed; its checks are not counted."""
        self.run_pass(tracing.Tracer("warm-up"))

    def run_pass(self, tracer) -> PassResult:
        f = self.facts
        md = F.col("markdown")
        with tracer.span("pass", workload=self.name) as root:
            with tracer.span("convert"):
                conv = api.convert(self.files).agg(
                    F.count("*").alias("rows"), F.sum(F.size("spans")).alias("spans")
                ).collect()[0]
            with tracer.span("html.scrape"):
                html = api.scrape_html(self.html).agg(
                    F.count("*").alias("rows"),
                    F.sum((F.octet_length(md) > 0).cast("int")).alias("nonempty"),
                    F.sum(
                        (F.instr(md, f["script_mark"]) + F.instr(md, f["footer_mark"]) > 0).cast("int")
                    ).alias("boilerplate"),
                    F.sum(F.size("links")).alias("links"),
                    F.count("metadata").alias("metadata"),
                ).collect()[0]
            with tracer.span("scrape"):
                scraped = api.scrape(self.urls, self.docs).localCheckpoint()
                scrape = scraped.agg(
                    F.count("*").alias("rows"),
                    F.sum(F.col("success").cast("int")).alias("success"),
                    F.sum(F.octet_length(md)).alias("bytes"),
                ).collect()[0]
            with tracer.span("chunker.sentence"):
                sent = _chunk_totals(api.chunk(self.urls, self.docs, chunker_type="sentence"))
            with tracer.span("chunker.semantic"):
                sem = _chunk_totals(
                    chunk_semantic(scraped.where("success").select(F.col("url").alias("doc_id"), "markdown"))
                )
            with tracer.span("curate"):
                prep = prepare_training_data(self.texts, chunker="sentence")
                curated = _chunk_totals(prep.chunks)
                reasons = {r["reason"]: r["count"] for r in prep.dropped.groupBy("reason").count().collect()}

        dropped = sum(reasons.values())
        counts = {
            "converted": conv["rows"],
            "spans": conv["spans"],
            "html_rows": html["rows"],
            "html_links": html["links"],
            "scraped": scrape["success"],
            "scrape_bytes": scrape["bytes"],
            "sentence_chunks": sent["chunks"],
            "semantic_chunks": sem["chunks"],
            "curate_chunks": curated["chunks"],
            "dropped": dropped,
            **{f"dropped_{k}": v for k, v in sorted(reasons.items())},
        }
        errors = []
        if conv["rows"] != f["files"]:
            errors.append(("convert", f"{conv['rows']} of {f['files']} files converted"))
        if html["rows"] != f["html_pages"] or html["nonempty"] != f["html_pages"]:
            errors.append(("html.scrape", f"{html['nonempty']} non-empty of {html['rows']} rows"))
        if html["boilerplate"]:
            errors.append(("html.scrape", f"{html['boilerplate']} pages kept script/footer text"))
        if html["metadata"] != f["html_pages"] or not html["links"]:
            errors.append(("html.scrape", "missing metadata or links"))
        if scrape["rows"] != f["urls"] or scrape["success"] != f["urls_in_corpus"]:
            errors.append(("scrape", f"{scrape['success']}/{scrape['rows']} scraped, want {f['urls_in_corpus']}/{f['urls']}"))
        if sent["docs"] != f["urls_in_corpus"] or not sent["chunks"]:
            errors.append(("chunker.sentence", f"{sent['chunks']} chunks over {sent['docs']} docs"))
        if not sem["chunks"]:
            errors.append(("chunker.semantic", "no chunks"))
        if reasons.get("exact_duplicate") != f["exact_duplicates"] or not reasons.get("near_duplicate"):
            errors.append(("curate", f"drop reasons {reasons}, want {f['exact_duplicates']} exact duplicates"))
        if curated["docs"] != f["texts"] - dropped:
            errors.append(("curate", f"{curated['docs']} chunked docs, {f['texts'] - dropped} kept"))
        errors += [("curate", m) for m in self.cache.check_counts(INGEST_KIND, self.seed, self.name, counts)]
        failed, messages = _failed(errors)

        # ingest has no crawl rounds: the pass is its one round, and URL
        # throughput is over the whole pass.  Timing only the 1-3 s URL
        # stages made both metrics move by over 25% between runs of the
        # same code; the stage times are per-layer metrics
        items = f["files"] + f["html_pages"] + f["urls"] + f["texts"]
        metrics = {
            "wall_s": root.seconds,
            "urls_per_s": (f["html_pages"] + f["urls"]) / root.seconds,
            "round_p50_s": root.seconds,
            "docs_per_s": items / root.seconds,
        }
        facts = {
            "converted": conv["rows"],
            "html_pages": html["rows"],
            "chunks": sent["chunks"] + sem["chunks"],
            "kept": f["texts"] - dropped,
            "dropped": dropped,
        }
        return PassResult(
            root.seconds,
            metrics,
            len(self.STAGES),
            failed,
            files=f["files"],
            failed_files=f["files"] - conv["rows"],
            errors=messages,
            facts=facts,
        )


def _chunk_totals(chunks) -> dict:
    r = chunks.agg(
        F.count("*").alias("chunks"),
        F.countDistinct("doc_id").alias("docs"),
        F.sum(F.octet_length("content")).alias("bytes"),
    ).collect()[0]
    return {"chunks": r["chunks"], "docs": r["docs"], "bytes": r["bytes"]}


WORKLOADS = {w.name: w for w in (CrawlPolite, Ingest)}
