"""Frontier: determinism vs the sequential oracle, parallelism invariance,
and checkpoint resume (north_rule requirements)."""

import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from warc2zim_spark.frontier import seenfilter
from warc2zim_spark.frontier.crawl import last_committed_wave, run_crawl


@pytest.fixture(scope="module")
def web_tables(spark, webdata):
    seeds = spark.read.parquet(f"{webdata}/seeds.parquet").cache()
    robots = spark.read.parquet(f"{webdata}/robots.parquet").cache()
    pages = spark.read.parquet(f"{webdata}/pages.parquet").cache()
    return seeds, robots, pages


def schedule_key(rows):
    return sorted((r.wave, r.surt_key, r.hops, round(r.score, 9)) for r in rows)


# budgets of the crawl the fault tests interrupt and compare against
CRAWL = dict(host_budget=4, wave_budget=50)


@pytest.fixture(scope="module")
def uninterrupted(spark, web_tables, tmp_path_factory):
    """seen_mode → (checkpoint dir, schedule key) of an uninterrupted
    3-wave crawl."""
    seeds, robots, pages = web_tables
    out = {}
    for mode in ("exact", "bloom"):
        ckpt = tmp_path_factory.mktemp(f"full_{mode}")
        rows = run_crawl(
            spark, seeds, pages, robots, str(ckpt), max_waves=3,
            seen_mode=mode, **CRAWL,
        ).collect()
        out[mode] = (ckpt, schedule_key(rows))
    return out


@pytest.fixture
def bloom_builds(monkeypatch):
    """Key frames passed to ``build_bloom`` during the test, in call order."""
    calls = []
    real = seenfilter.build_bloom

    def spy(seen, *args, **kwargs):
        calls.append(seen)
        return real(seen, *args, **kwargs)

    monkeypatch.setattr(seenfilter, "build_bloom", spy)
    return calls


def _keys(df):
    return sorted(r.surt_key for r in df.select("surt_key").collect())


class TestDeterminism:
    def test_matches_sequential_oracle(self, spark, webdata, web_tables, tmp_path):
        seeds, robots, pages = web_tables
        got = run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "ckpt"),
            max_waves=3, host_budget=4, wave_budget=50,
        ).collect()
        from warc2zim_spark.sources.datagen import sequential_crawl

        golden = sequential_crawl(
            pq.read_table(f"{webdata}/pages.parquet"),
            pq.read_table(f"{webdata}/robots.parquet"),
            pq.read_table(f"{webdata}/seeds.parquet"),
            max_waves=3, host_budget=4, wave_budget=50,
        )
        expected = sorted(
            zip(
                golden.column("wave").to_pylist(),
                golden.column("surt_key").to_pylist(),
                golden.column("hops").to_pylist(),
                [round(s, 9) for s in golden.column("score").to_pylist()],
            )
        )
        assert schedule_key(got) == expected

    def test_parallelism_invariance(self, spark, web_tables, tmp_path):
        """Same schedule with 2 vs 8 shuffle partitions (the sandbox proxy for
        N vs 4N executors at the correctness level)."""
        seeds, robots, pages = web_tables
        a = run_crawl(
            spark, seeds, pages.repartition(2), robots, str(tmp_path / "a"),
            max_waves=2, host_budget=4, wave_budget=50,
        ).collect()
        b = run_crawl(
            spark, seeds, pages.repartition(8), robots, str(tmp_path / "b"),
            max_waves=2, host_budget=4, wave_budget=50,
        ).collect()
        assert schedule_key(a) == schedule_key(b)


class TestResume:
    def test_resume_completes_identically(self, spark, web_tables, tmp_path):
        seeds, robots, pages = web_tables
        full = run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "full"),
            max_waves=3, host_budget=4, wave_budget=50,
        ).collect()
        # partial run: 2 waves, then resume to 3
        run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "partial"),
            max_waves=2, host_budget=4, wave_budget=50,
        )
        assert last_committed_wave(str(tmp_path / "partial")) == 1
        resumed = run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "partial"),
            max_waves=3, host_budget=4, wave_budget=50,
        ).collect()
        assert schedule_key(resumed) == schedule_key(full)

    def test_metrics_written(self, spark, web_tables, tmp_path):
        import json

        seeds, robots, pages = web_tables
        run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "m"),
            max_waves=2, host_budget=4, wave_budget=50,
        )
        metrics = json.loads((tmp_path / "m" / "wave=0._metrics.json").read_text())
        assert metrics["scheduled"] > 0 and metrics["hosts"] > 0


class TestSaltedPoliteness:
    def test_salted_equals_unsalted(self, spark, webdata):
        """Hot-host salting is a pure physical rewrite: results identical."""
        from warc2zim_spark.frontier.politeness import politeness_budget
        from warc2zim_spark.functions import udfs

        pages = spark.read.parquet(f"{webdata}/pages.parquet")
        robots = spark.read.parquet(f"{webdata}/robots.parquet")
        cands = (
            pages.select(
                udfs.surt_key(F.col("url")).alias("surt_key"),
                udfs.host_of(F.col("url")).alias("host"),
            )
            .filter(F.col("surt_key").isNotNull())
            .withColumn("hops", (F.xxhash64("surt_key") % 3).cast("int"))
            .withColumn("score", (F.pmod(F.xxhash64("host", "surt_key"), F.lit(100)) / 100.0))
            .distinct()
        )
        plain = politeness_budget(cands, robots, host_budget=5)
        salted = politeness_budget(cands, robots, host_budget=5, salt_partitions=4)
        key = lambda r: (r.host, r.surt_key)
        assert sorted(map(key, plain.collect())) == sorted(map(key, salted.collect()))

    def test_salted_prioritize_equals_unsalted(self, spark, webdata):
        """Two-phase global top-k is a pure physical rewrite too."""
        from warc2zim_spark.frontier.politeness import prioritize
        from warc2zim_spark.functions import udfs

        pages = spark.read.parquet(f"{webdata}/pages.parquet")
        cands = (
            pages.select(
                udfs.surt_key(F.col("url")).alias("surt_key"),
                udfs.host_of(F.col("url")).alias("host"),
            )
            .filter(F.col("surt_key").isNotNull())
            .withColumn("hops", (F.xxhash64("surt_key") % 3).cast("int"))
            .withColumn("score", (F.pmod(F.xxhash64("host", "surt_key"), F.lit(100)) / 100.0))
            .distinct()
        )
        plain = prioritize(cands, wave_budget=37)
        salted = prioritize(cands, wave_budget=37, salt_partitions=4)
        key = lambda r: (r.host, r.surt_key)
        assert sorted(map(key, plain.collect())) == sorted(map(key, salted.collect()))


class TestPoliteness:
    def test_host_budget_enforced(self, spark, web_tables, tmp_path):
        seeds, robots, pages = web_tables
        schedule = run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "pb"),
            max_waves=3, host_budget=2, wave_budget=1000,
        )
        over = (
            schedule.groupBy("wave", "host")
            .count()
            .filter(F.col("count") > 2)
            .count()
        )
        assert over == 0

    def test_denied_host_never_scheduled(self, spark, webdata, web_tables, tmp_path):
        seeds, robots, pages = web_tables
        deny_hosts = {
            r.host
            for r in robots.filter(
                (F.col("rule_type") == "disallow") & (F.col("path_prefix") == "/")
            ).collect()
        }
        if not deny_hosts:
            pytest.skip("no deny-all hosts at this scale")
        schedule = run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "deny"),
            max_waves=3, host_budget=8, wave_budget=1000,
        )
        scheduled_hosts = {r.host for r in schedule.select("host").distinct().collect()}
        assert not (deny_hosts & scheduled_hosts)


class TestBloomModeCrawl:
    def test_bloom_schedule_equals_exact(self, spark, web_tables, tmp_path):
        """The bloom-driven crawl (north_star headline mode) schedules the
        same set as exact membership at this scale (deterministic hashing:
        a divergence would be a bloom FP dropping one URL — none at this
        fp budget/key count, and the run is reproducible)."""
        seeds, robots, pages = web_tables
        exact = run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "ex"),
            max_waves=3, host_budget=4, wave_budget=50,
        ).collect()
        bloom = run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "bl"),
            max_waves=3, host_budget=4, wave_budget=50, seen_mode="bloom",
        ).collect()
        assert schedule_key(bloom) == schedule_key(exact)
        # and the filter itself was persisted for resume
        assert any((tmp_path / "bl").glob("seen_bloom_wave=*"))

    def test_bloom_resume_from_persisted_filter(
        self, spark, web_tables, tmp_path, bloom_builds
    ):
        """north_rule resumability in the headline mode: restart picks up
        the persisted bloom parquet, not a key rebuild."""
        seeds, robots, pages = web_tables
        full = run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "bf"),
            max_waves=3, host_budget=4, wave_budget=50, seen_mode="bloom",
        ).collect()
        run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "bp"),
            max_waves=2, host_budget=4, wave_budget=50, seen_mode="bloom",
        )
        bloom_builds.clear()
        resumed = run_crawl(
            spark, seeds, pages, robots, str(tmp_path / "bp"),
            max_waves=3, host_budget=4, wave_budget=50, seen_mode="bloom",
        ).collect()
        assert schedule_key(resumed) == schedule_key(full)
        # the only filter built is the resumed wave 2's own
        wave2 = [r.surt_key for r in resumed if r.wave == 2]
        assert [_keys(df) for df in bloom_builds] == [sorted(wave2)]


class TestResumeFaults:
    """A run interrupted at a write barrier, then restarted with the same
    ``run_crawl`` call, schedules exactly what an uninterrupted run does."""

    @pytest.mark.parametrize("mode", ["exact", "bloom"])
    def test_wave_without_marker_recomputed(
        self, spark, web_tables, uninterrupted, tmp_path, mode
    ):
        """Crash after wave 1's parquet write, before its marker: the
        stranded directory (here holding wrong rows) is recomputed and
        overwritten."""
        seeds, robots, pages = web_tables
        ckpt = tmp_path / "c"
        run_crawl(
            spark, seeds, pages, robots, str(ckpt), max_waves=2,
            seen_mode=mode, **CRAWL,
        )
        (ckpt / "wave=1._SUCCESS_WAVE").unlink()
        spark.read.parquet(str(ckpt / "wave=0")).withColumn(
            "wave", F.lit(1)
        ).write.mode("overwrite").parquet(str(ckpt / "wave=1"))
        assert last_committed_wave(str(ckpt)) == 0
        resumed = run_crawl(
            spark, seeds, pages, robots, str(ckpt), max_waves=3,
            seen_mode=mode, **CRAWL,
        ).collect()
        assert schedule_key(resumed) == uninterrupted[mode][1]
        assert last_committed_wave(str(ckpt)) == 2

    def test_missing_bloom_rebuilt_from_committed_keys(
        self, spark, web_tables, uninterrupted, tmp_path, bloom_builds
    ):
        """Crash after wave 1's marker, before ``seen_bloom_wave=1`` is
        persisted: the filter is rebuilt from the committed waves' keys."""
        seeds, robots, pages = web_tables
        ckpt = tmp_path / "c"
        run_crawl(
            spark, seeds, pages, robots, str(ckpt), max_waves=2,
            seen_mode="bloom", **CRAWL,
        )
        shutil.rmtree(ckpt / "seen_bloom_wave=1")
        committed = _keys(spark.read.parquet(str(ckpt / "wave=0"), str(ckpt / "wave=1")))
        bloom_builds.clear()
        resumed = run_crawl(
            spark, seeds, pages, robots, str(ckpt), max_waves=3,
            seen_mode="bloom", **CRAWL,
        ).collect()
        assert schedule_key(resumed) == uninterrupted["bloom"][1]
        assert _keys(bloom_builds[0]) == committed

    @pytest.mark.parametrize("mode", ["exact", "bloom"])
    def test_finished_directory_is_not_rerun(
        self, spark, web_tables, uninterrupted, mode
    ):
        seeds, robots, pages = web_tables
        ckpt, want = uninterrupted[mode]
        before = {p: p.stat().st_mtime_ns for p in ckpt.rglob("*")}
        again = run_crawl(
            spark, seeds, pages, robots, str(ckpt), max_waves=3,
            seen_mode=mode, **CRAWL,
        ).collect()
        assert schedule_key(again) == want
        assert {p: p.stat().st_mtime_ns for p in ckpt.rglob("*")} == before

    def test_exhausted_crawl_is_not_extended(self, spark, web_tables, tmp_path):
        """A crawl that ran out of candidates (last wave empty) stays ended
        even when restarted with a larger ``max_waves``."""
        _, robots, pages = web_tables
        seeds = spark.createDataFrame(
            [("https://no-such-host.example/x", 1.0, 0)],
            "url string, score double, hops int",
        )
        ckpt = tmp_path / "c"
        first = run_crawl(
            spark, seeds, pages, robots, str(ckpt), max_waves=4, **CRAWL
        ).collect()
        # wave 0 schedules the seed, whose fetch finds no page; wave 1 is empty
        assert last_committed_wave(str(ckpt)) == 1
        before = {p: p.stat().st_mtime_ns for p in ckpt.rglob("*")}
        again = run_crawl(
            spark, seeds, pages, robots, str(ckpt), max_waves=6, **CRAWL
        ).collect()
        assert schedule_key(again) == schedule_key(first)
        assert {p: p.stat().st_mtime_ns for p in ckpt.rglob("*")} == before
