"""Output correctness: the spec text per url, and the job's table against it.

The spec is ``extractor.core.extract_document`` called directly, outside
Spark, on the generated payloads. Texts are compared by sha256 of their
UTF-8 bytes, which is byte identity for any practical purpose and keeps
the spec small enough to cache per seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys


def _digest(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def spec_digests(pages_dir: str) -> dict[str, str]:
    """{url: sha256(spec text)} over the pages parquet, in this process."""
    import pyarrow.parquet as pq

    from greenocr_spark.extractor.core import extract_document

    t = pq.read_table(pages_dir, columns=["url", "html"])
    return {
        url: _digest(extract_document(raw)["text"])
        for url, raw in zip(t.column("url").to_pylist(), t.column("html").to_pylist())
    }


def cached_spec(pages_dir: str, cache_path: str) -> dict[str, str]:
    """spec_digests, computed in a child process (so this process's
    extractor state stays as cold as a fresh worker's) and cached in a JSON
    file keyed by the caller's path."""
    if not os.path.exists(cache_path):
        os.makedirs(os.path.dirname(cache_path), exist_ok=True)
        tmp = cache_path + ".tmp"
        subprocess.run(
            [sys.executable, "-m", "perfbench.check", pages_dir, tmp], check=True, timeout=600
        )
        os.replace(tmp, cache_path)
    with open(cache_path) as f:
        return json.load(f)


def table_rows(spark, ext_path: str) -> list[tuple[str, str, str]]:
    """(url, sha256(text), sha256(whole row)) for every row of an
    extracted table."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(ext_path)
    return [
        tuple(r)
        for r in df.select(
            "url",
            F.sha2(F.col("text"), 256),
            F.sha2(F.to_json(F.struct(*sorted(df.columns))), 256),
        ).collect()
    ]


def fail_urls(spec: dict[str, str], rows: list[tuple]) -> set[str]:
    """Input urls that are missing from ``rows``, appear more than once,
    or whose text digest differs from the spec."""
    got: dict[str, str] = {}
    bad = set()
    for url, text_sha, _ in rows:
        if url in got:
            bad.add(url)
        got[url] = text_sha
    for url, want in spec.items():
        if got.get(url) != want:
            bad.add(url)
    return bad & spec.keys()


if __name__ == "__main__":
    # python3 -m perfbench.check PAGES_DIR OUT_JSON
    with open(sys.argv[2], "w") as f:
        json.dump(spec_digests(sys.argv[1]), f)
