#!/usr/bin/env python3
"""Benchmark of the flagship extraction job, ``plans.job.run_extract_job``.

Usage (from the repository root):

    python3 perfbench/run.py --workload text-mixed --seed 1 --seconds 10 --trace 0

One run, in one fresh process at ``local[<cores>]``:

1. generate the workload's pages from the seed (one process) and write
   them as parquet; compute the spec text digests with
   ``extractor.core.extract_document`` outside Spark (cached per seed);
2. set-up (``setup_s``): build the session and run one full, untimed job
   pass into a throwaway out_dir, so every timed pass is warm;
3. ``--trace 0``: until ``--seconds`` of timed work are done, repeat
   {full job pass into a fresh out_dir (``docs_per_s``); drop the manifest
   rows of half the partitions and time ``run_extract_job(resume=True)``
   (``resume_s``)}, checking every output table against the spec and the
   resumed one against the full pass;
   ``peak_rss_mb`` is the JVM and its Python workers' summed VmHWM;
4. ``--trace 1``: the same set-up with Spark's event log on, one
   unlabelled pass for reference, then spans around calls into each layer
   give the per-layer metrics (see ``perfbench.layers``).

The last stdout line is the result object; the line before it carries the
input digest, the failure share and anything reported as absent.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")

# run_extract_job's default salt count, passed explicitly so the layer
# passes shuffle exactly as the job does
N_SALTS = 8


def _cores() -> int:
    return len(os.sched_getaffinity(0))


# --------------------------------------------------------------------------
# process accounting


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def jvm_tree() -> list[int]:
    """PIDs of this process's JVM children and all their descendants (the
    PySpark daemon and its Python workers)."""
    kids = _children()
    todo = [p for p in kids.get(os.getpid(), []) if _comm(p) == "java"]
    out = []
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class PeakRss:
    """Peak resident set of the JVM tree: per process the highest VmHWM
    seen in any sample, summed over every process ever seen."""

    def __init__(self):
        self.peak_kb: dict[int, int] = {}
        self.jvm_pids: set[int] = set()

    def sample(self) -> None:
        tree = jvm_tree()
        self.jvm_pids.update(p for p in tree if _comm(p) == "java")
        for pid in tree:
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), kb)
                            break
            except OSError:
                continue

    def total_mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0

    def jvm_mb(self) -> float:
        return sum(v for p, v in self.peak_kb.items() if p in self.jvm_pids) / 1024.0


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def shutdown_spark(spark) -> None:
    """Stop the session, the py4j gateway and the JVM, and wait until the
    JVM and every Python worker it started have exited."""
    from pyspark import SparkContext

    tree = jvm_tree()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while any(_alive(p) for p in tree) and time.time() < deadline:
        time.sleep(0.1)


# --------------------------------------------------------------------------
# inputs


def make_inputs(workload: str, seed: int, pages: int, run_dir: str):
    """Generate, write and digest the workload's pages. Returns (rows,
    input info dict, input parquet dir)."""
    from perfbench import workloads as W

    rows = W.GENERATORS[workload](pages, seed)
    sha, nbytes = W.content_digest(rows)
    in_dir = os.path.join(run_dir, "pages")
    W.write_parquet(rows, in_dir)
    parquet_bytes = sum(
        os.path.getsize(os.path.join(in_dir, f)) for f in os.listdir(in_dir)
    )
    info = {"rows": len(rows), "sha256": sha, "payload_bytes": nbytes, "parquet_bytes": parquet_bytes}
    return rows, info, in_dir


def load_spec(workload: str, seed: int, in_dir: str, input_info: dict) -> dict:
    from perfbench.check import cached_spec

    cache_dir = os.path.join(WORK, "spec")
    key = f"{workload}-{seed}-{input_info['rows']}-{input_info['sha256'][:16]}"
    spec = cached_spec(in_dir, os.path.join(cache_dir, key + ".json"))
    # keep the cache bounded: the newest 32 entries
    entries = sorted(
        (os.path.join(cache_dir, f) for f in os.listdir(cache_dir) if f.endswith(".json")),
        key=os.path.getmtime,
    )
    for old in entries[:-32]:
        os.remove(old)
    return spec


# --------------------------------------------------------------------------
# the job and its checks


class Bench:
    def __init__(self, args, run_dir: str):
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.cfg = WORKLOADS[args.workload]
        self.run_dir = run_dir
        self.rss = PeakRss()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.absent: dict[str, str] = {}
        # filled by the run for the info line
        self.input_info: dict = {}
        self.passes: dict = {}
        self.extra_info: dict = {}

    def session(self, extra: dict | None = None):
        from greenocr_spark.session import build_session

        conf = {
            "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # the heap starts at its maximum, so peak RSS does not depend on
            # when G1 chose to grow it; what varies is off-heap (Arrow,
            # shuffle) and Python worker memory
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} "
                f"-Djava.io.tmpdir={os.path.join(self.run_dir, 'tmp')}"
            ),
            **(extra or {}),
        }
        spark = build_session(app_name="perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def job(self, spark, pages, out_dir: str, **kw):
        from greenocr_spark.plans.job import run_extract_job

        return run_extract_job(
            spark,
            pages,
            out_dir,
            n_parts=self.cfg["parts"],
            n_salts=N_SALTS,
            salting=self.cfg["salting"],
            with_links=self.cfg["with_links"],
            with_anchors=self.cfg["with_anchors"],
            **kw,
        )

    def check(self, spark, out_dir: str, spec: dict, n: int, reference=None):
        """Count the table's failing urls against the spec; with
        ``reference`` (an earlier table_rows), rows that differ from it in
        any column fail too. Returns the table's rows."""
        from perfbench.check import fail_urls, table_rows

        rows = table_rows(spark, os.path.join(out_dir, "extracted"))
        bad = fail_urls(spec, rows)
        if reference is not None:
            bad |= {u for u, _, _ in set(rows) ^ set(reference)} & spec.keys()
        self.attempted += n
        self.failed += len(bad)
        return rows

    def fail_all(self, n: int, what: str, exc: BaseException) -> None:
        self.attempted += n
        self.failed += n
        self.errors.append(f"{what}: {type(exc).__name__}: {exc}"[:500])


def drop_half_manifest(out_dir: str) -> set:
    """Remove the manifest rows of every other done partition (sorted by
    part_id), as a crash before those commits would leave it. Returns the
    dropped part_ids."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    mdir = os.path.join(out_dir, "manifest")
    table = pq.read_table(mdir)
    done = sorted(set(table.column("part_id").to_pylist()))
    drop = set(done[::2])
    keep = table.filter(
        pc.invert(pc.is_in(table["part_id"], pa.array(sorted(drop), type=table["part_id"].type)))
    )
    tmp = mdir + ".tmp"
    os.makedirs(tmp)
    pq.write_table(keep, os.path.join(tmp, "part-00000.parquet"))
    shutil.rmtree(mdir)
    os.rename(tmp, mdir)
    return drop


def redone_parts(out_dir: str, run_id: str) -> set:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(out_dir, "manifest"))
    return {p for p, r in zip(t.column("part_id").to_pylist(), t.column("run_id").to_pylist()) if r == run_id}


def setup(b: Bench, in_dir: str, extra_conf: dict | None = None):
    """Build the session and run the untimed warm pass. Returns (spark,
    pages, build_s, setup_s)."""
    from greenocr_spark.sources.pages import read_pages

    t0 = time.perf_counter()
    spark = b.session(extra_conf)
    build_s = time.perf_counter() - t0
    pages = read_pages(spark, in_dir)
    b.job(spark, pages, os.path.join(b.run_dir, "warm"))
    setup_s = time.perf_counter() - t0
    shutil.rmtree(os.path.join(b.run_dir, "warm"), ignore_errors=True)
    b.rss.sample()
    return spark, pages, build_s, setup_s


def timed_passes(b: Bench, spark, pages, spec: dict, n: int, seconds: float) -> tuple[list, list]:
    """A full pass, then a resume that redoes half of its partitions;
    repeated until ``seconds`` of timed work. Returns (per-pass walls,
    per-resume walls)."""
    walls, resumes = [], []
    k = 0
    while k == 0 or sum(walls) + sum(resumes) < seconds:
        out = os.path.join(b.run_dir, f"out{k}")
        try:
            t0 = time.perf_counter()
            b.job(spark, pages, out, run_id=f"full{k}")
            walls.append(time.perf_counter() - t0)
        except Exception as e:  # a job exception fails every doc of the pass
            b.fail_all(n, f"pass {k}", e)
            break
        b.rss.sample()
        full = b.check(spark, out, spec, n)
        drop = drop_half_manifest(out)
        try:
            t0 = time.perf_counter()
            b.job(spark, pages, out, run_id=f"resume{k}", resume=True)
            resumes.append(time.perf_counter() - t0)
        except Exception as e:
            b.fail_all(n, f"resume {k}", e)
            break
        b.rss.sample()
        if redone_parts(out, f"resume{k}") != drop:
            b.fail_all(n, f"resume {k}", RuntimeError("resume did not redo exactly the dropped partitions"))
        else:
            b.check(spark, out, spec, n, reference=full)
        shutil.rmtree(out, ignore_errors=True)
        k += 1
    return walls, resumes


def run_untraced(b: Bench, in_dir: str, spec: dict, n: int) -> dict:
    spark, pages, _, setup_s = setup(b, in_dir)
    steal0, total0 = cpu_steal_ticks()
    try:
        walls, resumes = timed_passes(b, spark, pages, spec, n, b.args.seconds)
    finally:
        steal1, total1 = cpu_steal_ticks()
        shutdown_spark(spark)
    # CPU time the hypervisor gave to other guests while this run was timed
    b.extra_info = {"steal_frac": (steal1 - steal0) / max(total1 - total0, 1)}
    metrics = {"setup_s": (setup_s, "s"), "peak_rss_mb": (b.rss.total_mb(), "MB")}
    if walls:
        metrics["docs_per_s"] = (statistics.median(n / w for w in walls), "1/s")
    if resumes:
        metrics["resume_s"] = (statistics.median(resumes), "s")
    b.passes = {"pass_s": walls, "resume_s": resumes}
    return metrics


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # for the benchmark's own tests: a tiny input, and a spec entry
    # corrupted on purpose so the correctness gate must fail
    ap.add_argument("--pages", type=int, default=None, help=argparse.SUPPRESS)
    ap.add_argument("--plant-mismatch", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    run_id = uuid.uuid4().hex[:12]
    run_dir = os.path.join(WORK, "runs", run_id)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # everything Spark, py4j and Python workers write stays in the run dir;
    # the workers import the program from the checkout
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    try:
        return _run(args, run_id, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_id: str, run_dir: str) -> int:
    from perfbench.workloads import WORKLOADS

    pages_n = args.pages or WORKLOADS[args.workload]["pages"]
    rows, input_info, in_dir = make_inputs(args.workload, args.seed, pages_n, run_dir)
    spec = load_spec(args.workload, args.seed, in_dir, input_info)
    if args.plant_mismatch:
        first = rows[0]["url"]
        spec[first] = "0" * 64
    n = len(rows)

    b = Bench(args, run_dir)
    b.input_info = input_info
    if args.trace:
        from perfbench.layers import trace_layers

        metrics = trace_layers(b, rows, in_dir, spec, n, run_id)
    else:
        del rows
        metrics = run_untraced(b, in_dir, spec, n)

    with open(BENCHMARK_JSON) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    out = {}
    for m in declared:
        name = m["name"]
        if name in metrics:
            value, unit = metrics[name]
            out[name] = {"value": value, "unit": unit}
        else:
            reason = b.absent.get(name) or "not measured in this run (see errors)"
            b.absent[name] = reason
            out[name] = {"value": None, "unit": m["unit"], "absent": reason}
    for name, reason in b.absent.items():
        print(f"perfbench: {name} absent: {reason}", file=sys.stderr)
    attempted = max(b.attempted, 1)
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": _cores(),
        "input": input_info,
        "fail_frac": {"value": b.failed / attempted, "unit": "ratio"},
        "rss_mb": {"total": b.rss.total_mb(), "jvm": b.rss.jvm_mb(), "processes": len(b.rss.peak_kb)},
        "passes": b.passes,
        "absent": b.absent,
        "errors": b.errors,
        **b.extra_info,
    }
    print(json.dumps(info))
    print(
        json.dumps(
            {
                "correct": b.failed == 0 and not b.errors,
                "attempted": attempted,
                "failed": b.failed,
                "metrics": out,
            }
        )
    )
    return 0


if __name__ == "__main__":
    # the script's own directory must not shadow stdlib modules (trace)
    sys.path[0] = ROOT
    try:
        import greenocr_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        sys.exit(2)
    sys.exit(main())
