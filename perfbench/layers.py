"""The traced run (``--trace 1``): per-layer metrics of one workload.

One session with Spark's event log on. After the set-up (``session.*``),
one job pass runs with no spans and no job labels: the reference for
``trace.overhead_frac`` and ``job.parallel_eff``. Then every phase is a
span whose name is also the Spark job group of the jobs it starts, so the
event log attributes stages to phases, and inside the job pass to the
``greenocr_spark/<file>.py:<line>`` that started them. After Spark has
stopped, the extractor layers are timed in this process, outside Spark, over
the workload's pages.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import statistics
import time

from perfbench import eventlog
from perfbench.run import N_SALTS, WORK, setup, shutdown_spark
from perfbench.trace import Tracer, install_callsites


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def _salted(pages, salting: str, parts: int):
    from pyspark.sql import functions as F

    from greenocr_spark.functions.sqlfns import adaptive_salted_part_id, salted_part_id

    if salting == "adaptive":
        return adaptive_salted_part_id(pages, "url", parts, N_SALTS)[0]
    return pages.withColumn("part_id", salted_part_id(F.col("url"), parts, N_SALTS))


def spark_layers(b, t: Tracer, spark, pages, in_dir: str, spec: dict, n: int, m: dict) -> None:
    """Traced job pass, pending/report, and the scan/shuffle/extract/write
    layer passes, all inside spans."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from greenocr_spark.operators.extract import extract_pages
    from greenocr_spark.plans.job import pending_pages
    from greenocr_spark.plans.report import job_report
    from greenocr_spark.sources.pages import read_pages, write_extracted

    from perfbench.run import drop_half_manifest

    cfg = b.cfg
    parts = cfg["parts"]
    out = os.path.join(b.run_dir, "traced")
    with t.span("job"):
        b.job(spark, pages, out, run_id="traced")
    b.check(spark, out, spec, n)
    with t.span("report"):
        rep = job_report(spark, out).first()
    m["report.max_over_mean_bytes"] = (float(rep["max_over_mean_bytes"]), "ratio")
    m["report.keep_ratio"] = (float(rep["keep_ratio"]), "ratio")
    drop_half_manifest(out)
    with t.span("job.pending"):
        _noop(pending_pages(spark, pages, out, parts, N_SALTS))
    m["job.pending_s"] = (t.duration("job.pending"), "s")
    shutil.rmtree(out, ignore_errors=True)

    with t.span("scan"):
        _noop(read_pages(spark, in_dir))
    m["scan.s"] = (t.duration("scan"), "s")

    def shuffled():
        return (
            _salted(read_pages(spark, in_dir), cfg["salting"], parts)
            .repartition(parts, "part_id")
            .sortWithinPartitions("url")
            .select("url", "html", "part_id")
        )

    with t.span("shuffle"):
        _noop(shuffled())
    m["shuffle.s"] = (t.duration("shuffle"), "s")
    with t.span("shuffle.rows"):
        counts = {
            r["p"]: r["count"]
            for r in shuffled().select(F.spark_partition_id().alias("p")).groupBy("p").count().collect()
        }
    rows_per_part = [counts.get(p, 0) for p in range(parts)]
    m["shuffle.part_rows_max_over_median"] = (
        max(rows_per_part) / max(statistics.median(rows_per_part), 1),
        "ratio",
    )

    with t.span("extract.persist"):
        inp = shuffled().persist(StorageLevel.MEMORY_AND_DISK)
        inp.count()
    faces = {"with_links": cfg["with_links"], "with_anchors": cfg["with_anchors"]}
    with t.span("extract.stage"):
        _noop(extract_pages(inp, passthrough=("part_id",), **faces))
    with t.span("extract.arrow_identity"):
        _noop(inp.mapInPandas(lambda batches: batches, schema=inp.schema))
    stage_s, ident_s = t.duration("extract.stage"), t.duration("extract.arrow_identity")
    m["extract.stage_s"] = (stage_s, "s")
    m["extract.arrow_identity_s"] = (ident_s, "s")
    m["extract.boundary_share"] = (ident_s / stage_s, "ratio")

    with t.span("write.persist"):
        res = extract_pages(inp, passthrough=("part_id",), **faces).persist(StorageLevel.MEMORY_AND_DISK)
        res.count()
    wpath = os.path.join(b.run_dir, "write")
    with t.span("write"):
        write_extracted(res, wpath, partition_col="part_id")
    m["write.s"] = (t.duration("write"), "s")
    m["write.bytes_per_in_byte"] = (_du(wpath) / b.input_info["payload_bytes"], "ratio")
    res.unpersist()
    inp.unpersist()
    shutil.rmtree(wpath, ignore_errors=True)


_FROM_EVENTLOG = (
    "job.manifest_s", "job.driver_gap_s", "job.gc_s", "job.extract_task_ms_p50",
    "job.extract_task_ms_max", "job.task_max_over_median", "shuffle.write_bytes",
)


def eventlog_metrics(b, t: Tracer, ev_dir: str, m: dict) -> dict:
    """job.* and shuffle.write_bytes from the session's event log.
    Returns the per-callsite summary of the job pass for the trace file."""
    logs = glob.glob(os.path.join(ev_dir, "*"))
    jobs = []
    if len(logs) == 1:
        el = eventlog.EventLog(logs[0])
        jobs = el.group_jobs("job")
    if not jobs:
        reason = (
            "the event log has no finished job in group 'job'"
            if len(logs) == 1
            else f"expected one event log file, found {len(logs)}"
        )
        for k in _FROM_EVENTLOG:
            b.absent[k] = reason
        return {}
    stages = [s for j in jobs for s in el.job_stages(j)]
    job_s = t.duration("job")
    m["job.driver_gap_s"] = (
        job_s - eventlog.union_s([(s.submit_ms, s.complete_ms) for s in stages]),
        "s",
    )
    m["job.gc_s"] = (sum(task.gc_ms for s in stages for task in s.tasks) / 1000.0, "s")
    manifest = [j for j in jobs if "manifest" in (j.callsite_long or "")]
    if manifest:
        m["job.manifest_s"] = (sum(j.wall_s for j in manifest), "s")
    else:
        b.absent["job.manifest_s"] = "no job of the pass was started from a manifest callsite"
    sites = eventlog.by_callsite(jobs)
    write_jobs = [j for site, js in sites.items() if site and "sources/pages.py" in site for j in js]
    write_stages = [s for j in write_jobs for s in el.job_stages(j)]
    if write_stages:
        ext = max(write_stages, key=lambda s: sum(task.shuffle_read_bytes for task in s.tasks))
        ms = sorted(task.ms for task in ext.tasks)
        m["job.extract_task_ms_p50"] = (statistics.median(ms), "ms")
        m["job.extract_task_ms_max"] = (ms[-1], "ms")
        m["job.task_max_over_median"] = (ms[-1] / max(statistics.median(ms), 1), "ratio")
        m["shuffle.write_bytes"] = (
            sum(task.shuffle_write_bytes for s in write_stages for task in s.tasks),
            "bytes",
        )
    else:
        for k in ("job.extract_task_ms_p50", "job.extract_task_ms_max",
                  "job.task_max_over_median", "shuffle.write_bytes"):
            b.absent[k] = "no job of the pass was started from greenocr_spark/sources/pages.py"
    return {
        str(site): {
            "jobs": len(js),
            "wall_s": sum(j.wall_s for j in js),
            "callsite": js[0].callsite_long,
        }
        for site, js in sites.items()
    }


def core_layers(t: Tracer, rows: list, spec: dict, m: dict, absent: dict) -> dict:
    """Time each extractor layer in this process over the workload's pages.
    The composed layers must reproduce the spec text; a mismatch means the
    trace no longer measures the real path."""
    from greenocr_spark.extractor import core as C
    from greenocr_spark.extractor import links as L
    from greenocr_spark.extractor import pdf as P

    pc = time.perf_counter
    layer = dict.fromkeys(("decode", "repair", "tokenize", "score", "classify", "ctc"), 0.0)
    n_html = n_pdf = blocks = markup_chars = n_out = n_anc = mismatch = 0
    pdf_s = out_s = anc_s = 0.0
    doc_us = []
    slowest = (0.0, None)
    with t.span("core"):
        for r in rows:
            raw, url = r["html"], r["url"]
            t0 = pc()
            if not raw:
                text = ""
            elif raw.startswith(C.PDF_MAGIC):
                text = P.extract_pdf(raw)["text"]
                pdf_s += pc() - t0
                n_pdf += 1
            else:
                a = pc()
                s = C.decode_bytes(raw)
                b_ = pc()
                mk = C.repair_markup(s)
                c = pc()
                bl = C.tokenize_blocks(mk)
                d = pc()
                sc = C.score_blocks(bl)
                e = pc()
                cls = C.classify_blocks(bl, sc)
                f = pc()
                text, _ = C.decode_blocks(bl, cls)
                g = pc()
                for k, dt in zip(layer, (b_ - a, c - b_, d - c, e - d, f - e, g - f)):
                    layer[k] += dt
                n_html += 1
                blocks += len(bl)
                markup_chars += len(mk)
            us = (pc() - t0) * 1e6
            doc_us.append(us)
            if us > slowest[0]:
                slowest = (us, url)
            if hashlib.sha256(text.encode("utf-8")).hexdigest() != spec.get(url):
                mismatch += 1
            t1 = pc()
            outl = L.extract_outlinks(raw, base_url=url)
            t2 = pc()
            anc = L.extract_anchors(raw, base_url=url, valid=outl)
            out_s += t2 - t1
            anc_s += pc() - t2
            n_out += len(outl)
            n_anc += len(anc)
    for k, v in layer.items():
        t.add(f"core.{k}_s", v)
    t.add("pdf_s", pdf_s)
    t.add("links.outlinks_s", out_s)
    t.add("links.anchors_s", anc_s)
    n = len(rows)
    per_html = max(n_html, 1)
    for k, v in layer.items():
        m[f"core.{k}_us"] = (v * 1e6 / per_html, "us")
    m["core.tokenize_ns_per_byte"] = (layer["tokenize"] * 1e9 / max(markup_chars, 1), "ns/B")
    doc_us.sort()
    m["core.doc_p99_us"] = (doc_us[min(len(doc_us) - 1, int(0.99 * len(doc_us)))], "us")
    m["core.doc_max_us"] = (doc_us[-1], "us")
    m["core.blocks_per_doc"] = (blocks / per_html, "count")
    m["core.docs_per_s_1core"] = (n / (sum(doc_us) / 1e6), "1/s")
    if n_pdf:
        m["pdf.us_per_doc"] = (pdf_s * 1e6 / n_pdf, "us")
    else:
        absent["pdf.us_per_doc"] = "the workload has no pdf pages"
    m["pdf.doc_share"] = (n_pdf / n, "ratio")
    m["links.outlinks_us"] = (out_s * 1e6 / n, "us")
    m["links.anchors_us"] = (anc_s * 1e6 / n, "us")
    m["links.outlinks_per_doc"] = (n_out / n, "count")
    m["links.anchors_per_doc"] = (n_anc / n, "count")
    return {"slowest_url": slowest[1], "core_spec_mismatches": mismatch}


def trace_layers(b, rows: list, in_dir: str, spec: dict, n: int, run_id: str) -> dict:
    t = Tracer(run_id)
    m: dict = {}
    ev_dir = os.path.join(b.run_dir, "eventlog")
    os.makedirs(ev_dir)

    with t.span("setup"):
        spark, pages, build_s, setup_s = setup(
            b, in_dir, {**eventlog.EVENTLOG_CONF, "spark.eventLog.dir": ev_dir}
        )
    m["session.build_s"] = (build_s, "s")
    m["session.warm_s"] = (setup_s - build_s, "s")
    try:
        # the reference pass: no spans, no job labels (the event log, a
        # session setting, is on for both passes)
        out = os.path.join(b.run_dir, "untraced")
        t0 = time.perf_counter()
        b.job(spark, pages, out, run_id="untraced")
        untraced_s = time.perf_counter() - t0
        b.check(spark, out, spec, n)
        shutil.rmtree(out, ignore_errors=True)

        sc = spark.sparkContext
        install_callsites(sc)
        t.on_enter = lambda name: sc.setJobGroup(name or "untraced", name or "untraced")
        spark_layers(b, t, spark, pages, in_dir, spec, n, m)
    finally:
        t.on_enter = None
        shutdown_spark(spark)

    sites = eventlog_metrics(b, t, ev_dir, m)
    job_s = t.duration("job")
    m["job.s"] = (job_s, "s")
    m["trace.overhead_frac"] = (job_s / untraced_s - 1.0, "ratio")

    core_info = core_layers(t, rows, spec, m, b.absent)
    if core_info["core_spec_mismatches"]:
        b.errors.append(f"{core_info['core_spec_mismatches']} docs: composed core layers differ from the spec")
    m["job.parallel_eff"] = (
        (n / untraced_s) / (int(os.environ["SPARK_GRAFT_CPUS"]) * m["core.docs_per_s_1core"][0]),
        "ratio",
    )
    m["check.fail_frac"] = (b.failed / max(b.attempted, 1), "ratio")

    path = os.path.join(WORK, "traces", f"{b.args.workload}-{b.args.seed}-{run_id}.json")
    t.dump(path, {"workload": b.args.workload, "seed": b.args.seed, "callsites": sites, **core_info})
    b.extra_info = {"trace_file": os.path.relpath(path, os.path.dirname(WORK)), **core_info}
    return m
