"""Output checks against the oracles built with the inputs.

Every check reads committed output with pyarrow, outside Spark, and returns
a list of human-readable problems: empty means the output is correct.
"""

from __future__ import annotations

from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

ITEM_COLS = ("zim_path", "url", "mime", "status", "payload_len", "file_seq",
             "rec_seq", "is_front")
WAVE_COLS = ("url", "surt_key", "host", "hops", "score")


def read_dir(path: Path) -> pa.Table:
    """A Spark parquet output directory, part files in name order (so row
    order within a single-partition output is kept)."""
    parts = sorted(Path(path).glob("part-*.parquet"))
    if not parts:
        raise FileNotFoundError(f"no parquet part files under {path}")
    return pa.concat_tables([pq.read_table(str(p)) for p in parts])


def _rows(table: pa.Table, cols) -> list[tuple]:
    data = [table.column(c).to_pylist() for c in cols]
    return list(zip(*data))


def record_items(items_sink: pa.Table) -> pa.Table:
    """Record-derived items: the sink minus the static assets (file_seq -1)."""
    import pyarrow.compute as pc

    return items_sink.filter(pc.not_equal(items_sink.column("file_seq"), -1))


def check_items(items: pa.Table, oracle: pa.Table) -> list[str]:
    """The record-derived item rows equal the oracle's, as a set."""
    got = sorted(_rows(items, ITEM_COLS), key=repr)
    want = sorted(_rows(oracle, ITEM_COLS), key=repr)
    if got == want:
        return []
    missing = set(want) - set(got)
    extra = set(got) - set(want)
    problems = [f"items: {len(got)} rows, oracle {len(want)}"]
    problems += [f"items: missing {r}" for r in sorted(missing, key=repr)[:3]]
    problems += [f"items: unexpected {r}" for r in sorted(extra, key=repr)[:3]]
    if not missing and not extra:
        problems.append("items: duplicated rows")
    return problems


def check_fails(fails: pa.Table, expected_urls) -> list[str]:
    """Exactly the planted poison records were quarantined."""
    got = sorted(fails.column("url").to_pylist())
    want = sorted(expected_urls)
    return [] if got == want else [f"fails: quarantined {got}, expected {want}"]


def schedule_waves(table: pa.Table) -> dict[int, list[tuple]]:
    """wave -> its rows in table order."""
    waves: dict[int, list[tuple]] = {}
    for wave, *row in _rows(table, ("wave",) + WAVE_COLS):
        waves.setdefault(int(wave), []).append(tuple(row))
    return waves


def check_schedule(got: dict[int, list[tuple]], want: dict[int, list[tuple]]) -> list[str]:
    """Wave by wave, the same scheduled rows in the same order."""
    problems = []
    for wave in sorted(set(got) | set(want)):
        g, w = got.get(wave, []), want.get(wave, [])
        if g == w:
            continue
        if sorted(g, key=repr) != sorted(w, key=repr):
            problems.append(
                f"wave {wave}: {len(g)} rows, oracle {len(w)}; "
                f"{len(set(w) - set(g))} missing, {len(set(g) - set(w))} unexpected"
            )
        else:
            first = next(i for i, (a, b) in enumerate(zip(g, w)) if a != b)
            problems.append(f"wave {wave}: same rows, order differs at row {first}")
    return problems


def read_crawl_output(ckpt: Path) -> dict[int, list[tuple]]:
    """The committed schedule: every wave directory with a success marker."""
    waves = {}
    for marker in Path(ckpt).glob("wave=*._SUCCESS_WAVE"):
        wave = int(marker.name.split("=")[1].split(".")[0])
        wave_dir = Path(ckpt) / f"wave={wave}"
        if any(wave_dir.glob("part-*.parquet")):
            waves[wave] = _rows(read_dir(wave_dir), WAVE_COLS)
    # a final empty wave commits a marker with no rows; the oracle has no
    # entry for it
    return {w: r for w, r in waves.items() if r}
