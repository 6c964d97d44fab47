"""Search benchmark: seeded workloads over the BM25 engine, every answer
checked against ``index/oracle.py``.

Usage::

    python3 perfbench/run.py --workload serve --seed 1 --seconds 25 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off; ``--trace 1``
reruns the same workload with spans and Spark's event log on and reports the
per-layer metrics (see perfbench/README.md). The second-to-last stdout line
is a full report (every metric, the Spark config, host evidence); the last
line is ``{"correct", "attempted", "failed", "metrics"}``. Everything the run
writes stays under ``.perfbench_cache/`` (inputs, keyed) and
``.perfbench_out/`` (reports; per-run scratch is removed at exit).
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback
from collections import defaultdict

# the checkout root: perfbench/ and statschat_ke_spark/ sit side by side in it
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT]

from perfbench import check  # noqa: E402
from perfbench.inputs import NOW, Inputs, golden_set, schedule  # noqa: E402

WORKLOADS = ("serve", "batch")
SETUPS = 3  # set-ups per run; setup_s is their median
MAX_READS = 2000  # schedule length; runs stop on time long before this

# The metrics every workload reports (BENCHMARK.json); the report line also
# carries the workload-specific ones (append/delete latency, tail, batch_qps).
END_TO_END = {"setup_s": "s", "search_cpu_s": "s", "index_bytes_per_doc": "B"}
# Units of every metric in the report line's "metrics".
REPORT_UNITS = {
    **END_TO_END,
    "search_p50_s": "s", "peak_rss_mb": "MB", "search_all_p50_s": "s",
    "append_p50_s": "s", "delete_p50_s": "s", "fail_frac": "ratio",
    "search_tail_s": "s", "search_tail_percentile": "%", "batch_qps": "1/s",
    "build_docs_per_s": "1/s",
}
BUILD_PHASES = ("stats", "docs_write", "postings", "lexicon", "metrics", "finalize")
APPEND_PHASES = BUILD_PHASES[1:]
# The per-layer metrics every workload reports (BENCHMARK.json). The write
# path's (index.build.append.*, index.build.delete.*) exist on serve only and
# stay in the report line.
PER_LAYER = (
    "api.jobs_per_search", "api.cache_hit_frac",
    "index.query.snapshot_s", "index.query.plan_s", "index.query.exec_s",
    "index.query.jobs", "index.query.stages", "index.query.tasks",
    "index.query.postings_records_read", "index.query.postings_bytes_read",
    "index.query.shuffle_bytes", "index.query.udf_bytes_sent",
    "index.query.udf_bytes_received", "index.query.udf_run_s",
    "index.query.executor_cpu_s", "index.query.segments",
    "index.codec.decode_postings_per_s", "index.codec.bytes_per_posting",
    "functions.extract.docs_per_s", "functions.tokenize.docs_per_s",
    "index.build.phase_a_s", *(f"index.build.phase_b.{p}_s" for p in BUILD_PHASES),
    "index.build.jobs", "index.build.shuffle_write_bytes", "index.build.spill_bytes",
    "index.build.gc_s", "index.build.executor_cpu_s", "index.build.skew_ratio",
    "host.cpu_concurrency", "host.cpu_java_s", "host.cpu_python_s",
    "trace.read_span_coverage_min",
)


def _tree_pids() -> list[int]:
    """This process and every descendant."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(c for c, pp in parent.items() if pp == p)
    return out


def peak_rss_mb() -> float:
    """Sum over the process tree of each live process's peak RSS (VmHWM)."""
    kb = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024.0


def start_spark(work: str, trace: bool):
    """local[cores] sized from the host; scratch, temp and event-log dirs
    under ``work``; workers import the package from the checkout root."""
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.driver.memory": f"{max(1, min(4, int(mem_gb // 4)))}g",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.eventLog.enabled": str(trace).lower(),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf["spark.eventLog.dir"] = "file://" + log_dir
        conf["spark.eventLog.compress"] = "false"
    builder = SparkSession.builder.appName("perfbench")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, conf


def stop_spark(spark) -> None:
    """Stop Spark, then wait for the JVM and every Python worker to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    others = [p for p in _tree_pids() if p != os.getpid() and (proc is None or p != proc.pid)]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    for pid in others:  # workers reparent away once the JVM is gone
        while os.path.exists(f"/proc/{pid}"):
            if time.time() > deadline:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(path, "**"), recursive=True) if os.path.isfile(f)
    )


def _marker(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "_SUCCESS.json")) as f:
        return json.load(f)


class Bench:
    def __init__(self, spark, inputs: Inputs, workload: str, work: str, tracer):
        self.spark, self.inputs, self.work, self.tracer = spark, inputs, work, tracer
        self.golden = golden_set(inputs.seed) if workload == "batch" else None
        self.ops = schedule(inputs.seed, workload, MAX_READS)
        self.snaps = check.Snapshots(inputs)
        self.builds: list[dict] = []
        self.reads: list[dict] = []
        self.appends: list[dict] = []
        self.deletes: list[dict] = []
        self.attempted = self.failed = 0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def jvm_gc_s(self) -> float:
        """Collection time of the Spark JVM so far; in local mode the
        executors run in it, so this counts scheduler- and task-side GC."""
        beans = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1e3

    # -- set-up --------------------------------------------------------------
    def setup(self) -> None:
        import pyarrow.parquet as pq

        from statschat_ke_spark import api
        from statschat_ke_spark.index.build import build_index
        from statschat_ke_spark.index.query import topk_batch

        if self.golden is None:
            # api.search's metadata (doc_id, title, date) for every doc a run can index
            self.meta = (
                self.spark.read.parquet(os.path.join(self.inputs.dir, "docs.parquet"))
                .select("doc_id", "title", "date")
                .persist()
            )
            self.meta.count()
        for i in range(SETUPS):
            d = os.path.join(self.work, f"index-{i}")
            with self.span("setup.build"):
                gc0 = self.jvm_gc_s()
                t0 = time.perf_counter()
                res = build_index(self.spark, self.inputs.base_path, d)
                wall = time.perf_counter() - t0
                gc = self.jvm_gc_s() - gc0
            with open(os.path.join(d, "stats.json")) as f:
                stats = json.load(f)
            lineage = pq.read_table(os.path.join(d, "_lineage")).column("wall_s").to_pylist()
            self.builds.append(
                {
                    "wall_s": wall,
                    "gc_s": gc,
                    "n_docs": res.n_docs,
                    "phase_a_s": sum(lineage),
                    "phase_b": stats.get("phase_timings_s", {}),
                    "skew_ratio": stats.get("skew_ratio"),
                    "n_postings": stats.get("n_postings"),
                    "table_bytes": {t: dir_bytes(os.path.join(d, t)) for t in ("postings", "docs", "lexicon")},
                }
            )
            self.attempted += 1
            if res.n_docs != self._live_en():
                self.failed += 1
            if i < SETUPS - 1:
                shutil.rmtree(d)
        self.index = d
        self.segments = {0: len(_marker(d).get("segments", []))}
        # serve's schedule opens with one append and one delete. They run
        # here, timed and checked, so that every run measures the write path
        # and serves its reads from a written index; the window only reads.
        while self.ops and self.ops[0].kind != "read":
            self._write(self.ops.pop(0))
        # The first read of a process runs up to twice as slow as later ones
        # (cold code paths, worker start-up, lexicon probes). One untimed read
        # through the same path pays that before the window opens.
        with self.span("setup.warmup"):
            if self.golden is None:
                api.search(self.spark, d, golden_set(self.inputs.seed)[0], metadata=self.meta, now=NOW)
            else:
                topk_batch(self.spark, d, self.golden, k=check.K).collect()

    def _live_en(self) -> int:
        docs = self.inputs.docs
        live = self.snaps.live[self.snaps.current]
        return int((docs["url"].isin(live) & (docs["lang"] == "en")).sum())

    # -- timed loop ------------------------------------------------------------
    def run(self, seconds: float) -> float:
        t_start = time.perf_counter()
        deadline = t_start + seconds
        for op in self.ops:
            if time.perf_counter() >= deadline:
                break
            try:
                self._read(op.arg, op.repeat)
            except Exception:
                # one failed engine call: count it, keep the traceback, and stop
                traceback.print_exc(file=sys.stderr)
                self.attempted += 1
                self.failed += 1
                break
        return time.perf_counter() - t_start

    def _read(self, question, repeat: bool) -> None:
        from statschat_ke_spark import api
        from statschat_ke_spark.benchutil import subtree_cpu_seconds
        from statschat_ke_spark.index.query import topk_batch

        read = {"snap": self.snaps.current, "repeat": repeat}
        cpu0 = subtree_cpu_seconds()
        if self.golden is None:
            with self.span("api.search"):
                t0 = time.perf_counter()
                res = api.search(self.spark, self.index, question, metadata=self.meta, now=NOW)
                read["wall_s"] = time.perf_counter() - t0
            read.update(q=question, refs=res["references"])
        else:
            with self.span("index.query.batch"):
                t0 = time.perf_counter()
                with self.span("index.query.plan"):
                    frame = topk_batch(self.spark, self.index, self.golden, k=check.K)
                rows = frame.collect()
                read["wall_s"] = time.perf_counter() - t0
            read["rows"] = [tuple(r) for r in rows]
        read["cpu_s"] = subtree_cpu_seconds() - cpu0
        self.reads.append(read)

    def _write(self, op) -> None:
        from statschat_ke_spark.benchutil import subtree_cpu_seconds
        from statschat_ke_spark.index.build import delete_docs, update_index

        cpu0 = subtree_cpu_seconds()
        if op.kind == "append":
            new_docs = self.spark.read.parquet(self.inputs.append_path(op.arg))
            with self.span("write.append"):
                t0 = time.perf_counter()
                update_index(self.spark, new_docs, self.index, strategy="segment")
                wall = time.perf_counter() - t0
            self.snaps.append(op.arg)
            with open(os.path.join(self.index, "stats.json")) as f:
                phases = json.load(f).get("phase_timings_s", {})
            self.appends.append({"wall_s": wall, "cpu_s": subtree_cpu_seconds() - cpu0, "phase_b": phases})
        else:
            urls = self.inputs.delete_urls(op.arg)
            with self.span("write.delete"):
                t0 = time.perf_counter()
                delete_docs(self.spark, self.index, urls)
                wall = time.perf_counter() - t0
            self.snaps.delete(op.arg)
            self.deletes.append({"wall_s": wall, "cpu_s": subtree_cpu_seconds() - cpu0})
        self.attempted += 1
        marker = _marker(self.index)
        self.segments[self.snaps.current] = len(marker.get("segments", []))
        if int(marker["stats"]["n_docs"]) != self._live_en():
            self.failed += 1

    # -- answers -----------------------------------------------------------------
    def verify(self) -> None:
        for r in sorted(self.reads, key=lambda r: r["snap"]):
            if self.golden is None:
                self.attempted += 1
                want = self.snaps.search(r["snap"], r["q"], NOW)
                self.failed += not check.same_search(r["refs"], want)
            else:
                got = defaultdict(list)
                for qid, _rank, doc_id, score in sorted(r["rows"]):
                    got[qid].append((doc_id, score))
                for qid, q in self.golden.items():
                    self.attempted += 1
                    self.failed += not check.same_topk(got[qid], self.snaps.topk(r["snap"], q))


def kernel_rates(inputs: Inputs, index_dir: str) -> dict[str, float]:
    """Single-thread rates of the extract and tokenize kernels on the first
    500 base docs, and of the posting decoder on the served index's first
    2,000 blocks (median of 3 passes each)."""
    import pyarrow.parquet as pq

    from statschat_ke_spark.functions.extract import extract_text
    from statschat_ke_spark.functions.tokenize import tokenize
    from statschat_ke_spark.index.codec import decode_doc_ids, decode_tfs

    htmls = pq.read_table(inputs.base_path, columns=["html"]).column("html").to_pylist()[:500]
    texts = [extract_text(h) for h in htmls]
    files = sorted(glob.glob(os.path.join(index_dir, "postings", "seg=0", "**", "*.parquet"), recursive=True))
    blocks = pq.read_table(files[0], columns=["n", "doc_ids", "tfs"]).slice(0, 2000).to_pydict()

    def rate(fn, items, units) -> float:
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            for x in items:
                fn(x)
            walls.append(time.perf_counter() - t0)
        return units / check.median(walls)

    return {
        "functions.extract.docs_per_s": rate(extract_text, htmls, len(htmls)),
        "functions.tokenize.docs_per_s": rate(tokenize, texts, len(texts)),
        "index.codec.decode_postings_per_s": rate(
            lambda b: (decode_doc_ids(b[0]), decode_tfs(b[1])),
            list(zip(blocks["doc_ids"], blocks["tfs"])),
            sum(blocks["n"]),
        ),
    }


def per_layer(bench: Bench, tracer, events, host: dict, kernels: dict) -> dict[str, float]:
    """The per-layer metrics of a traced run (names in perfbench/README.md)."""
    from perfbench.trace import group_metrics, subtree_totals

    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}
    totals, children = subtree_totals(spans, group_metrics(events))
    med = check.median

    def dur(s):
        return s["end"] - s["start"]

    def kids(s, name=None):
        return [by_id[c] for c in children.get(s["id"], []) if name is None or by_id[c]["name"] == name]

    def within(s, name):
        found = []
        for c in kids(s):
            found += [c] if c["name"] == name else within(c, name)
        return found

    reads = [s for s in spans if s["name"] in ("api.search", "index.query.batch")]
    searches = [s for s in reads if s["name"] == "api.search"]
    # cache hits do no query-layer work; query-layer medians are over misses
    worked = [s for s in reads if kids(s, "index.query.plan")]
    out: dict[str, float] = {
        "api.jobs_per_search": sum(totals[s["id"]].get("jobs", 0) for s in searches) / max(1, len(searches)),
        "api.cache_hit_frac": sum(not kids(s) for s in searches) / max(1, len(searches)),
    }
    snapshot = [sum(dur(x) for x in within(s, "index.query.snapshot")) for s in worked]
    plan = [sum(dur(p) for p in kids(s, "index.query.plan")) for s in worked]
    out["index.query.snapshot_s"] = med(snapshot)
    out["index.query.plan_s"] = med([p - sn for p, sn in zip(plan, snapshot)])
    out["index.query.exec_s"] = med([sum(dur(c) for c in kids(s, "spark.collect")) for s in worked])
    for key in (
        "jobs", "stages", "tasks", "postings_records_read", "postings_bytes_read",
        "udf_bytes_sent", "udf_bytes_received", "udf_run_s", "executor_cpu_s",
    ):
        out[f"index.query.{key}"] = med([totals[s["id"]].get(key, 0.0) for s in worked])
    out["index.query.shuffle_bytes"] = med([totals[s["id"]].get("shuffle_write_bytes", 0.0) for s in worked])
    out["index.query.segments"] = med([bench.segments[r["snap"]] for r in bench.reads])
    out["trace.read_span_coverage_min"] = min(
        (sum(dur(c) for c in kids(s)) / dur(s) for s in worked), default=0.0
    )

    builds = [s for s in spans if s["name"] == "setup.build"]
    for key in ("jobs", "shuffle_write_bytes", "spill_bytes", "executor_cpu_s"):
        out[f"index.build.{key}"] = med([totals[s["id"]].get(key, 0.0) for s in builds])
    out["index.build.gc_s"] = med([b["gc_s"] for b in bench.builds])
    out["index.build.phase_a_s"] = med([b["phase_a_s"] for b in bench.builds])
    for phase in BUILD_PHASES:
        out[f"index.build.phase_b.{phase}_s"] = med([b["phase_b"][phase] for b in bench.builds])
    out["index.build.skew_ratio"] = med([b["skew_ratio"] for b in bench.builds])
    b = bench.builds[-1]
    out["index.codec.bytes_per_posting"] = b["table_bytes"]["postings"] / b["n_postings"]

    appends = [s for s in spans if s["name"] == "write.append"]
    for key in ("jobs", "shuffle_write_bytes"):
        out[f"index.build.append.{key}"] = med([totals[s["id"]].get(key, 0.0) for s in appends])
    for phase in APPEND_PHASES:
        out[f"index.build.append.phase_b.{phase}_s"] = med([a["phase_b"][phase] for a in bench.appends])
    deletes = [s for s in spans if s["name"] == "write.delete"]
    for key in ("jobs", "input_bytes"):
        out[f"index.build.delete.{key}"] = med([totals[s["id"]].get(key, 0.0) for s in deletes])

    out.update(kernels)
    out.update({f"host.{k}": v for k, v in host.items()})
    return {k: (None if v is None else float(v)) for k, v in out.items()}


def layer_unit(name: str) -> str:
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith(("_frac", "_ratio", "coverage_min", "concurrency")):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)
    # a terminated run still stops Spark and removes its scratch (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        import statschat_ke_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is missing beside perfbench/ ({e})", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(out_dir, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    tempfile.tempdir = None

    from statschat_ke_spark.benchutil import subtree_cpu_by_kind

    phases: dict[str, float] = {}
    t_phase = [time.perf_counter()]

    def lap(name: str) -> None:
        now = time.perf_counter()
        phases[name] = now - t_phase[0]
        t_phase[0] = now

    try:
        inputs = Inputs(ROOT, os.path.join(ROOT, ".perfbench_cache"), args.seed)
        lap("inputs")
        spark, conf = start_spark(work, trace)
        lap("session")
        tracer = None
        try:
            if trace:
                from perfbench.trace import Tracer, install

                tracer = Tracer(spark.sparkContext)
                install(tracer)
            bench = Bench(spark, inputs, args.workload, work, tracer)
            bench.setup()
            lap("setup")
            cpu0 = subtree_cpu_by_kind()
            window = bench.run(args.seconds)
            cpu1 = subtree_cpu_by_kind()
            rss = peak_rss_mb()
            lap("window")
        finally:
            if tracer is not None:
                tracer.unpatch()
            stop_spark(spark)
        lap("stop")
        bench.verify()
        lap("verify")

        cpu = {k: cpu1.get(k, 0.0) - cpu0.get(k, 0.0) for k in set(cpu0) | set(cpu1)}
        host = {
            "cpu_concurrency": sum(cpu.values()) / window,
            "cpu_java_s": cpu.get("java", 0.0),
            "cpu_python_s": cpu.get("python", 0.0),
        }
        read_walls = [r["wall_s"] for r in bench.reads]
        # repeats are answered by the result cache in well under a millisecond;
        # the latency metrics are over the reads the engine answers
        engine = [r for r in bench.reads if not r["repeat"]]
        engine_walls = [r["wall_s"] for r in engine]
        last = bench.builds[-1]
        e2e = {
            "setup_s": check.median([b["wall_s"] for b in bench.builds]),
            "search_cpu_s": check.median([r["cpu_s"] for r in engine]),
            "index_bytes_per_doc": sum(last["table_bytes"].values()) / last["n_docs"],
        }
        search_p50_s = check.median(engine_walls)
        tail = check.tail(engine_walls)
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "n_docs_indexed": last["n_docs"],
            "input_cache_hit": inputs.hit,
            "spark_conf": conf,
            "host": host,
            "counts": {
                "reads": len(bench.reads),
                "questions": len(bench.reads) * (len(bench.golden) if bench.golden else 1),
                "appends": len(bench.appends),
                "deletes": len(bench.deletes),
                "setups": len(bench.builds),
            },
            "walls_s": {
                "setups": [b["wall_s"] for b in bench.builds],
                "reads": read_walls,
                "read_cpu": [r["cpu_s"] for r in bench.reads],
                "appends": [a["wall_s"] for a in bench.appends],
                "append_cpu": [a["cpu_s"] for a in bench.appends],
                "deletes": [d["wall_s"] for d in bench.deletes],
                "delete_cpu": [d["cpu_s"] for d in bench.deletes],
            },
            "metrics": {
                **e2e,
                "search_p50_s": search_p50_s,
                "peak_rss_mb": rss,
                "search_all_p50_s": check.median(read_walls),
                "append_p50_s": check.median([a["wall_s"] for a in bench.appends]),
                "delete_p50_s": check.median([d["wall_s"] for d in bench.deletes]),
                "fail_frac": bench.failed / max(1, bench.attempted),
                "search_tail_s": tail and tail[1],
                "search_tail_percentile": tail and tail[0],
                "batch_qps": bench.golden and search_p50_s and len(bench.golden) / search_p50_s,
                "build_docs_per_s": last["n_docs"] / e2e["setup_s"],
            },
            "units": dict(REPORT_UNITS),
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        if trace:
            kernels = kernel_rates(inputs, bench.index)
            from perfbench.trace import read_event_log

            layers = per_layer(bench, tracer, read_event_log(os.path.join(work, "eventlog")), host, kernels)
            report["per_layer"] = layers
            report["units"].update((k, layer_unit(k)) for k in layers)
            lap("trace")
            report["spans"] = tracer.spans
            untraced = os.path.join(out_dir, "reports", f"{args.workload}-{args.seed}-trace0.json")
            if os.path.exists(untraced):
                with open(untraced) as f:
                    base = json.load(f)["metrics"]
                report["tracing_overhead"] = {k: e2e[k] - base[k] for k in e2e if base.get(k) is not None}
            metrics = {k: {"value": layers[k], "unit": layer_unit(k)} for k in PER_LAYER}
        report["phases_s"] = phases
        os.makedirs(os.path.join(out_dir, "reports"), exist_ok=True)
        with open(os.path.join(out_dir, "reports", f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump(report, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    missing = [k for k, v in metrics.items() if v["value"] is None]
    if missing:
        print(f"perfbench: no samples for {missing}; run longer", file=sys.stderr)
        return 3
    print(json.dumps({k: v for k, v in report.items() if k != "spans"}))
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
