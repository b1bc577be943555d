"""The benchmark's workloads: each runs one public entry point of the program,
checks its committed output against the oracle, and can replay the same
work layer by layer for the traced run.

The replays call the layers' public functions in the entry point's order.
Each layer's output is checkpointed and counted inside its span, so the
layer's inputs are already materialized when its span starts. Glue the entry points
keep private (the crawl's in-wave dedup, fetch join and link projection) is
restated here; the replay guard compares the replay's output with the
untraced run's, so any drift from the entry point is caught.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass
from pathlib import Path

import pyarrow.parquet as pq

from perfbench import oracles
from perfbench.inputs import POISON_URLS, ConvertSpec, CrawlSpec


def _mat(df):
    """Materialize every column of ``df`` and cut its lineage, as the entry
    points' own checkpoints do (cached frames keep their lineage, and
    planning the growing plan of each wave soon costs more than the layer)."""
    df = df.localCheckpoint(eager=True)
    return df, df.count()


@dataclass(frozen=True)
class Probe:
    """One Arrow UDF evaluated alone over the workload's own rows."""

    udf_name: str
    columns: tuple[str, ...]
    table: str


class Convert:
    """``run_pipeline`` over the seeded WARC record table."""

    name = "convert"
    layers = (
        "records.content_records", "gather.expected_items",
        "redirects.redirect_edges", "redirects.kept_redirects",
        "redirects.expected_with_redirects", "quarantine.quarantined_records",
        "quarantine.exclude_failed_records", "items.items_table",
        "items.revisit_aliases", "pipeline.write_sinks",
        "gather.main_page_resolved", "favicon.best_illustration",
        "metadata.zim_metadata",
    )
    probes = (
        Probe("canonical_post_url",
              ("url", "req_method", "req_mime", "req_body", "req_content_length"),
              "warc_records.parquet"),
    )

    def __init__(self, spec: ConvertSpec):
        self.spec = spec

    @staticmethod
    def rows_in(inp: Path) -> int:
        return pq.ParquetFile(str(inp / "warc_records.parquet")).metadata.num_rows

    def run(self, spark, inp: Path, out: Path) -> int:
        from warc2zim_spark.plans.pipeline import run_pipeline

        run_pipeline(spark, str(inp), str(out), continue_on_error=True)
        return self.rows_in(inp)

    @staticmethod
    def check(inp: Path, out: Path) -> list[str]:
        items = oracles.record_items(oracles.read_dir(out / "items"))
        oracle = pq.read_table(str(inp / "oracle_items.parquet"))
        return oracles.check_items(items, oracle) + oracles.check_fails(
            oracles.read_dir(out / "fails"), POISON_URLS
        )

    @staticmethod
    def same_output(a: Path, b: Path) -> list[str]:
        return oracles.check_items(
            oracles.read_dir(a / "items"), oracles.read_dir(b / "items")
        )

    @staticmethod
    def replay(spark, tr, inp: Path, out: Path) -> None:
        """``run_pipeline(continue_on_error=True)`` with default options."""
        from warc2zim_spark.operators.favicon import best_illustration
        from warc2zim_spark.operators.gather import (
            expected_items, main_page_candidate, main_page_resolved,
        )
        from warc2zim_spark.operators.items import items_table, revisit_aliases
        from warc2zim_spark.operators.metadata import (
            items_with_static, static_asset_items, zim_metadata,
        )
        from warc2zim_spark.operators.quarantine import (
            exclude_failed_records, quarantined_records,
        )
        from warc2zim_spark.operators.records import content_records, load_records
        from warc2zim_spark.operators.redirects import (
            expected_with_redirects, kept_redirects, redirect_edges,
        )

        out.mkdir(parents=True, exist_ok=True)
        records = load_records(spark, str(inp))
        with tr.span("records.content_records"):
            content, n_content = _mat(content_records(records))
        tr.count("records.content_records.rows_out", n_content)
        with tr.span("gather.expected_items"):
            expected, n = _mat(expected_items(content))
        tr.count("gather.expected_items.rows_out", n)
        with tr.span("redirects.redirect_edges"):
            edges, n = _mat(redirect_edges(content))
        tr.count("redirects.redirect_edges.rows_out", n)
        with tr.span("redirects.kept_redirects"):
            redirects, n = _mat(kept_redirects(edges, expected))
        tr.count("redirects.kept_redirects.rows_out", n)
        with tr.span("redirects.expected_with_redirects"):
            full_expected, n = _mat(expected_with_redirects(edges, expected))
        tr.count("redirects.expected_with_redirects.rows_out", n)
        with tr.span("quarantine.quarantined_records"):
            fails, n_fails = _mat(
                quarantined_records(content_records(records, with_head=True))
            )
        tr.count("quarantine.quarantined_records.rows_out", n_fails)
        source = content
        if n_fails:
            with tr.span("quarantine.exclude_failed_records"):
                source, n = _mat(exclude_failed_records(content, fails))
            tr.count("quarantine.exclude_failed_records.rows_out", n)
        with tr.span("items.items_table"):
            items, n_items = _mat(items_table(source))
        tr.count("items.items_table.rows_out", n_items)
        tr.count("items.useful_ratio", n_items / max(n_content, 1))
        with tr.span("items.revisit_aliases"):
            aliases, n = _mat(revisit_aliases(content, items))
        tr.count("items.revisit_aliases.rows_out", n)
        with tr.span("pipeline.write_sinks"):
            fails.write.mode("overwrite").parquet(str(out / "fails"))
            items_with_static(items, static_asset_items(spark)).write.mode(
                "overwrite").parquet(str(out / "items"))
            redirects.write.mode("overwrite").parquet(str(out / "redirects"))
            aliases.write.mode("overwrite").parquet(str(out / "aliases"))
            full_expected.write.mode("overwrite").parquet(str(out / "expected"))
        tr.count("pipeline.write_sinks.rows_out", n_fails + n_items)
        with tr.span("gather.main_page_resolved"):
            main_df = main_page_candidate(content)
            resolved = main_page_resolved(content, main_df).limit(1).collect()[0]
        tr.count("gather.main_page_resolved.rows_out", 1)
        with tr.span("favicon.best_illustration"):
            best = best_illustration(
                content_records(records, with_payload=True),
                spark.createDataFrame([(resolved.zim_path, resolved.url)],
                                      "zim_path string, url string"),
                decode_options=None,
            )
            illu = best.select("illustration").limit(1).collect()
        tr.count("favicon.best_illustration.rows_out", len(illu))
        with tr.span("metadata.zim_metadata"):
            meta_args = {"illustration": bytes(illu[0].illustration)} if illu else {}
            meta = zim_metadata(content, records, name="warc2zim-spark-output",
                                main=main_df, decode_options=None, **meta_args)
            extra = spark.createDataFrame(
                [("Main-Path", resolved.zim_path),
                 ("Counter-Items", str(n_items + static_asset_items(spark).count()))],
                "name string, value string",
            )
            meta, n = _mat(meta.unionByName(extra))
            meta.write.mode("overwrite").parquet(str(out / "metadata"))
        tr.count("metadata.zim_metadata.rows_out", n)


class Crawl:
    """``run_crawl`` in exact seen mode from a wide seed slice: few heavy
    waves with large host and wave budgets over the zipf-hot host table."""

    name = "crawl"
    layers = (
        "crawl.seed_frontier", "crawl.page_lookup", "crawl.crawl_wave.dedup",
        "seenfilter.unseen_exact", "politeness.robots_allowed",
        "politeness.politeness_budget", "politeness.prioritize",
        "crawl.write_wave", "crawl.crawl_wave.fetch", "crawl.crawl_wave.links",
        "crawl.seen_union",
    )
    probes = (
        Probe("surt_key", ("url",), "pages.parquet"),
        Probe("extract_wave_links", ("html", "url"), "pages.parquet"),
    )

    def __init__(self, spec: CrawlSpec):
        self.spec = spec

    @staticmethod
    def _tables(spark, inp: Path):
        return tuple(spark.read.parquet(str(inp / f"{t}.parquet"))
                     for t in ("seeds", "pages", "robots"))

    def run(self, spark, inp: Path, out: Path) -> int:
        from warc2zim_spark.frontier.crawl import run_crawl

        s = self.spec
        seeds, pages, robots = self._tables(spark, inp)
        run_crawl(spark, seeds, pages, robots, str(out), max_waves=s.max_waves,
                  host_budget=s.host_budget, wave_budget=s.wave_budget,
                  salt_min_candidates=s.salt_min_candidates)
        return sum(len(r) for r in oracles.read_crawl_output(out).values())

    @staticmethod
    def check(inp: Path, out: Path) -> list[str]:
        want = oracles.schedule_waves(pq.read_table(str(inp / "oracle_schedule.parquet")))
        return oracles.check_schedule(oracles.read_crawl_output(out), want)

    @staticmethod
    def same_output(a: Path, b: Path) -> list[str]:
        return oracles.check_schedule(
            oracles.read_crawl_output(b), oracles.read_crawl_output(a)
        )

    def replay(self, spark, tr, inp: Path, out: Path) -> None:
        """``run_crawl(seen_mode="exact")`` with this workload's budgets."""
        from pyspark.sql import functions as F

        from warc2zim_spark.frontier.crawl import SCORE_DECAY, page_lookup
        from warc2zim_spark.frontier.politeness import (
            DEFAULT_SALT_PARTITIONS, politeness_budget, prioritize, robots_allowed,
        )
        from warc2zim_spark.frontier.seenfilter import unseen_exact
        from warc2zim_spark.functions import udfs

        s = self.spec
        out.mkdir(parents=True, exist_ok=True)
        seeds, pages, robots = self._tables(spark, inp)
        valid = F.col("surt_key").isNotNull() & F.col("host").isNotNull()
        with tr.span("crawl.seed_frontier"):
            frontier, n_frontier = _mat(
                seeds.repartition(spark.sparkContext.defaultParallelism)
                .withColumn("surt_key", udfs.surt_key(F.col("url")))
                .withColumn("host", udfs.host_of(F.col("url")))
            )
        tr.count("crawl.seed_frontier.rows_out", n_frontier)
        with tr.span("crawl.page_lookup"):
            pages_keyed, n = _mat(page_lookup(pages))
        tr.count("crawl.page_lookup.rows_out", n)
        seen = spark.createDataFrame([], "surt_key string")
        for wave in range(s.max_waves):
            salt = DEFAULT_SALT_PARTITIONS if n_frontier >= s.salt_min_candidates else 0
            with tr.span("crawl.wave"):
                with tr.span("crawl.crawl_wave.dedup"):
                    best, n_best = _mat(
                        frontier.filter(valid).groupBy("surt_key").agg(
                            F.min("hops").alias("hops"), F.max("score").alias("score"),
                            F.min("url").alias("url"),
                        ).withColumn("host", udfs.host_of(F.col("url")))
                    )
                tr.count("crawl.crawl_wave.dedup.rows_out", n_best)
                tr.count("crawl.candidates", n_best)
                with tr.span("seenfilter.unseen_exact"):
                    unseen, n = _mat(unseen_exact(best, F.broadcast(seen)))
                tr.count("seenfilter.unseen_exact.rows_out", n)
                with tr.span("politeness.robots_allowed"):
                    allowed, n_allowed = _mat(robots_allowed(unseen, robots))
                tr.count("politeness.robots_allowed.rows_out", n_allowed)
                with tr.span("politeness.politeness_budget"):
                    polite, n = _mat(politeness_budget(
                        allowed, robots, host_budget=s.host_budget, salt_partitions=salt))
                tr.count("politeness.politeness_budget.rows_out", n)
                with tr.span("politeness.prioritize"):
                    scheduled, n_sched = _mat(prioritize(
                        polite, wave_budget=s.wave_budget, salt_partitions=salt))
                tr.count("politeness.prioritize.rows_out", n_sched)
                with tr.span("crawl.write_wave"):
                    wave_out = scheduled.select(
                        F.lit(wave).alias("wave"), "url", "surt_key", "host", "hops",
                        F.round("score", 9).alias("score"),
                    )
                    wave_out.write.mode("overwrite").parquet(str(out / f"wave={wave}"))
                    (out / f"wave={wave}._SUCCESS_WAVE").write_text("ok")
                tr.count("crawl.write_wave.rows_out", n_sched)
                if n_sched == 0:
                    break
                with tr.span("crawl.crawl_wave.fetch"):
                    hits = F.broadcast(scheduled.join(pages_keyed, "surt_key"))
                    fetched, n = _mat(hits.join(
                        pages.select(F.col("url").alias("page_url"), "html"), "page_url"))
                tr.count("crawl.crawl_wave.fetch.rows_out", n)
                with tr.span("crawl.crawl_wave.links"):
                    frontier, n_frontier = _mat(
                        fetched.filter(F.col("html").isNotNull())
                        .select("hops", "score", F.explode_outer(
                            udfs.extract_wave_links(F.col("html"), F.col("url"))
                        ).alias("l"))
                        .select(
                            F.col("l.url").alias("url"),
                            (F.col("hops") + 1).alias("hops"),
                            (F.col("score") * SCORE_DECAY).alias("score"),
                            F.col("l.surt_key").alias("surt_key"),
                            F.col("l.host").alias("host"),
                        )
                    )
                tr.count("crawl.crawl_wave.links.rows_out", n_frontier)
                with tr.span("crawl.seen_union"):
                    seen, n = _mat(seen.union(wave_out.select("surt_key")))
                tr.count("crawl.seen_union.rows_out", n)
            # rows of the hottest host entering the politeness budget
            hot = allowed.groupBy("host").count().agg(F.max("count")).first()[0]
            tr.count("politeness.hot_host_rows", hot or 0)


WORKLOADS = {w.name: w for w in (
    Convert(ConvertSpec(pages=2000)),
    Crawl(CrawlSpec(pages=4000, seed_urls=1600, max_waves=4, host_budget=200,
                    wave_budget=100_000, salt_min_candidates=3000)),
)}
# tiny inputs with the same code paths (the salted wave included), for the
# benchmark's own tests
SMOKE_WORKLOADS = {w.name: w for w in (
    Convert(ConvertSpec(pages=400)),
    Crawl(CrawlSpec(pages=600, seed_urls=200, max_waves=2, host_budget=50,
                    wave_budget=1000, salt_min_candidates=300)),
)}


def wave_gaps(out: Path, t_start: float) -> list[float]:
    """Gaps between successive crawl-wave success markers in ``out`` (run
    start first), from their modification times; empty for other output."""
    marks = sorted(p.stat().st_mtime for p in out.glob("wave=*._SUCCESS_WAVE"))
    return [b - a for a, b in zip([t_start] + marks, marks)]


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path
