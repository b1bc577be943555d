"""Seeded inputs and their oracles, generated outside every timed region.

Each (workload, seed) pair gets a directory under ``<checkout>/.perfbench/data``
holding the parquet inputs the program reads and the oracle the benchmark
checks its output against. Both are pure functions of the seed, so a cached
directory is reused as-is; a directory is only visible once complete
(written under a temporary name, then renamed).

Inputs come from the program's public generators in
``warc2zim_spark.sources.datagen``. The oracles are independent of the Spark
code path: the single-threaded ``sequential_crawl`` for the crawl, and the
``w_items`` DuckDB SQL of ``__spark_entry__`` for the convert item set.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated content changes so stale caches regenerate.
INPUT_VERSION = "1"

# The two records the datagen record stream poisons by construction: they
# fail decoding, so a ``continue_on_error=True`` run must quarantine exactly
# these and nothing else.
POISON_URLS = (
    "https://statuses.example/poison-1.html",
    "https://statuses.example/poison-2.css",
)


@dataclass(frozen=True)
class ConvertSpec:
    pages: int


@dataclass(frozen=True)
class CrawlSpec:
    pages: int
    seed_urls: int
    max_waves: int
    host_budget: int
    wave_budget: int
    salt_min_candidates: int


def _register_tier(pages: int) -> str:
    """``generate_pages`` sizes its output by tier name; register one for
    this page count (the named tiers are 400, 2k and 200k pages)."""
    from warc2zim_spark.sources import datagen

    tier = f"perfbench-{pages}"
    datagen.SCALE_PAGES.setdefault(tier, pages)
    return tier


def _write(table: pa.Table, path: Path) -> None:
    from warc2zim_spark.sources.datagen import ROW_GROUP_SIZE

    pq.write_table(table, path, row_group_size=ROW_GROUP_SIZE)


def _items_oracle(records_path: Path) -> pa.Table:
    """The ``w_items`` DuckDB SQL over the generated record table, with the
    two planted poison records removed (a continue-on-error run skips them,
    and a skipped record's path falls back to its next record)."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry._web_sql("PERFBENCH")["w_items"]
    literal = f"read_parquet('{entry.WEBROOT}/PERFBENCH/warc_records.parquet')"
    if literal not in sql:
        raise RuntimeError("w_items oracle SQL no longer reads warc_records.parquet")
    con = duckdb.connect()
    try:
        poison = ", ".join(f"'{u}'" for u in POISON_URLS)
        con.execute(
            f"CREATE VIEW recs AS SELECT * FROM read_parquet('{records_path}') "
            f"WHERE url IS NULL OR url NOT IN ({poison})"
        )
        return con.execute(sql.replace(literal, "recs")).arrow()
    finally:
        con.close()


def _generate_convert(spec: ConvertSpec, seed: int, out: Path) -> None:
    from warc2zim_spark.sources import datagen

    pages, _ = datagen.generate_pages(_register_tier(spec.pages), seed)
    records = datagen.generate_warc_records(pages, seed)
    _write(records, out / "warc_records.parquet")
    _write(_items_oracle(out / "warc_records.parquet"), out / "oracle_items.parquet")


def crawl_seed_table(pages: pa.Table, n: int) -> pa.Table:
    """A wide seed slice: the first ``n`` page urls, all at hop 0, score 1."""
    urls = pages.column("url").slice(0, n)
    return pa.table(
        {
            "url": urls,
            "score": pa.array([1.0] * len(urls), pa.float64()),
            "hops": pa.array([0] * len(urls), pa.int32()),
        }
    )


def _generate_crawl(spec: CrawlSpec, seed: int, out: Path) -> None:
    from warc2zim_spark.sources import datagen

    pages, golden = datagen.generate_pages(_register_tier(spec.pages), seed)
    robots = datagen.generate_robots(golden, seed)
    seeds = crawl_seed_table(pages, spec.seed_urls)
    _write(pages, out / "pages.parquet")
    _write(robots, out / "robots.parquet")
    _write(seeds, out / "seeds.parquet")
    oracle = datagen.sequential_crawl(
        pages, robots, seeds, max_waves=spec.max_waves,
        host_budget=spec.host_budget, wave_budget=spec.wave_budget,
    )
    _write(oracle, out / "oracle_schedule.parquet")


def ensure_inputs(data_root: Path, workload: str, spec, seed: int) -> Path:
    """Return the complete input directory for (workload, spec, seed),
    generating it first when it is missing or from an older version."""
    key = "-".join(f"{v}" for v in vars(spec).values())
    out = data_root / workload / f"v{INPUT_VERSION}-{key}" / f"seed={seed}"
    if (out / "_COMPLETE").exists():
        return out
    tmp = out.with_name(f"{out.name}.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    try:
        # in a child process, so the memory generation takes is not held by
        # the process whose tree the benchmark measures
        subprocess.run(
            [sys.executable, "-m", "perfbench.inputs", json.dumps(vars(spec)),
             str(seed), str(tmp)],
            cwd=Path(__file__).resolve().parents[1], check=True,
        )
        (tmp / "_COMPLETE").write_text(INPUT_VERSION)
        shutil.rmtree(out, ignore_errors=True)
        tmp.rename(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


if __name__ == "__main__":
    fields = json.loads(sys.argv[1])
    spec = CrawlSpec(**fields) if "seed_urls" in fields else ConvertSpec(**fields)
    gen = _generate_crawl if isinstance(spec, CrawlSpec) else _generate_convert
    gen(spec, int(sys.argv[2]), Path(sys.argv[3]))
