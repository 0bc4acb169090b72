"""Seeded input generators for the benchmark workloads.

Every workload is built from ``greenocr_spark.fixtures.make_page`` (used
read-only) in this one process: the same seed gives the same rows, and the
program only ever sees the parquet files written here. The payload shapes
per workload, and why each exists, are recorded in BENCHMARK.json.
"""

from __future__ import annotations

import hashlib
import os
import random
import struct

import pyarrow as pa
import pyarrow.parquet as pq

from greenocr_spark.fixtures import CASES, make_page

# Files per input dataset: fixed so the scan's task count depends on the
# seed and size only, never on the host.
N_FILES = 8

SCHEMA = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("warc_ts", pa.timestamp("us")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)

# Link-dense fixture shapes (each carries >= 20 <a> once the extra link
# list below is injected) plus the pdf shape, so the fused faces also see
# payloads they must route to [].
_LINK_CASES = ("link-farm", "boilerplate-heavy", "nested-tables")
_HOT_CASES = ("huge-block", "deep-nesting")
_HOT_HOST = "hot.example.com"


def _case_index(case: str, k: int) -> int:
    """The k-th make_page index whose fixture shape is ``case``."""
    return k * len(CASES) + CASES.index(case)


def _inject_links(page: dict, rng: random.Random, n: int) -> dict:
    """Add an n-item list of absolute cross-host and relative links to an
    HTML page, just before </main>."""
    items = "".join(
        f"<li><a href='https://host{rng.randrange(1, 200)}.example.net/p{rng.randrange(10**6)}'>"
        f"see {rng.randrange(1000)}</a></li>"
        if j % 2
        else f"<li><a href='/rel/{rng.randrange(10**6)}?q={j}&amp;r=1'>item {j}</a></li>"
        for j in range(n)
    )
    html = page["html"].replace(b"</main>", f"<ul>{items}</ul></main>".encode(), 1)
    return {**page, "html": html}


def _truncate_in_open_tag(page: dict, rng: random.Random, k: int) -> dict:
    """Cut a page mid-body and append a 2-8 KB run of '<' or '<a ', as in
    a WARC record cut off inside an open tag. The k-th cut page gets the
    k-th (unit, length) of a fixed cycle, so the tail's total cost does not
    depend on the seed."""
    html = page["html"]
    cut = rng.randrange(len(html) // 3, len(html))
    unit = (b"<", b"<a ")[k % 2]
    length = (2048, 3584, 5120, 6656, 8192)[(k // 2) % 5]
    return {**page, "html": html[:cut] + unit * (length // len(unit))}


def text_mixed(n: int, seed: int) -> list:
    """All 16 fixture degradation cases in rotation; Zipf hosts."""
    return [make_page(i, seed) for i in range(n)]


def fused_links(n: int, seed: int) -> list:
    """Link-dense shapes, one pdf in every 16 pages."""
    rng = random.Random(seed * 7919 + 1)
    rows = []
    for i in range(n):
        if i % 16 == 15:
            rows.append(make_page(_case_index("pdf", i), seed))
            continue
        case = _LINK_CASES[i % len(_LINK_CASES)]
        page = make_page(_case_index(case, i), seed)
        rows.append(_inject_links(page, rng, rng.randrange(20, 41)))
    return rows


def skewed_tail(n: int, seed: int) -> list:
    """Every other row on one host, all of them expensive shapes; the rest
    is the text-mixed rotation (all 16 cases). Every 200th page (0.5%) is
    cut inside an open tag."""
    rng = random.Random(seed * 104729 + 2)
    rows = []
    for i in range(n):
        if i % 2 == 0:
            case = _HOT_CASES[(i // 2) % len(_HOT_CASES)]
            page = make_page(_case_index(case, i), seed)
            page["url"] = f"https://{_HOT_HOST}/{case}/page-{i}"
        else:
            page = make_page(i // 2, seed)
        # the cut rows are cold rows whose fixture case (i // 2) % 16 is
        # 3, 7, 11 or 15: never a pdf or an empty page
        if i % 200 == 199:
            page = _truncate_in_open_tag(page, rng, i // 200)
        rows.append(page)
    return rows


GENERATORS = {
    "text-mixed": text_mixed,
    "fused-links": fused_links,
    "skewed-tail": skewed_tail,
}


def content_digest(rows: list) -> tuple[str, int]:
    """(sha256, payload bytes) over the rows' url and html, in order; the
    parquet encoding does not enter it."""
    h = hashlib.sha256()
    total = 0
    for r in rows:
        u = r["url"].encode()
        b = r["html"] or b""
        h.update(struct.pack("<II", len(u), len(b)))
        h.update(u)
        h.update(b)
        total += len(b)
    return h.hexdigest(), total


def write_parquet(rows: list, out_dir: str) -> None:
    """Write rows as N_FILES parquet files under out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    cols = ("url", "warc_ts", "html", "text", "lang")
    step = -(-len(rows) // N_FILES)
    for f in range(N_FILES):
        chunk = rows[f * step : (f + 1) * step]
        if not chunk:
            break
        table = pa.Table.from_pydict({k: [r[k] for r in chunk] for k in cols}, schema=SCHEMA)
        pq.write_table(table, os.path.join(out_dir, f"part-{f:02d}.parquet"))


# Job settings per workload. ``pages`` is sized so one warm job pass takes
# a few seconds on a 4-core host: long enough that fixed Spark overhead is
# a minority of the wall, short enough for several timed passes per run.
WORKLOADS = {
    "text-mixed": {"pages": 12000, "parts": 32, "salting": "uniform", "with_links": False, "with_anchors": False},
    "fused-links": {"pages": 3000, "parts": 32, "salting": "uniform", "with_links": True, "with_anchors": True},
    "skewed-tail": {"pages": 4000, "parts": 32, "salting": "adaptive", "with_links": False, "with_anchors": False},
}
