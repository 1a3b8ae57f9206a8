#!/usr/bin/env python3
"""Benchmark of what users run: knowledge-graph builds through
``jobs/run_kg_pipeline.py`` and the four ``operators/dedup.py`` families.

    python3 perfbench/run.py --workload resumable_buckets --seed 1 --seconds 1 --trace 0

Run from the repository root. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer ones (see
perfbench/README.md for the workloads, metrics and the layer map). The line
before it is a detail record: host fit, calibration, per-operation figures
and any output-check failures.

One operation is the first build (or dedup pass) in a started session. Each
``spark-submit`` of the job pays that cold cost, so no warm-up runs first.
Further operations run while ``--seconds`` allows; ``--trace 1`` runs one
traced operation.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = {
    "resumable_buckets": {"kind": "pipeline", "turns": 4_000, "turns_per_conv": 20,
                          "mention_share": 1.0, "buckets": 2},
    "near_dup_docs": {"kind": "dedup", "docs": 600, "dup_share": 0.1},
}
# registry parameters of the dedup families (plans/entry_queries.py)
DEDUP_PARAMS = {
    "minhash_lsh": {},
    "simhash64": {"max_hamming": 6},
    "ngram_jaccard": {"threshold": 0.12, "max_df": 5},
    "embedding_lsh": {"threshold": 0.38, "n_planes": 16},
}
PIPELINE_LAYERS = ["read", "extract_link", "emit", "nodes", "census", "canonicalize",
                   "finalize", "stats", "export", "artifacts", "combine", "checkpoint"]
DEDUP_LAYERS = list(DEDUP_PARAMS)
SETUP_REPS = 3
PR_SET_CHILD_SUBREAPER = 36


# --- process hygiene ---------------------------------------------------------------

def adopt_orphans() -> None:
    """Become the reaper of every descendant whose parent ends first, so the
    Python-worker daemon (``pyspark.daemon`` moves to its own process group
    and outlives the JVM briefly) and its workers can be waited for."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def descendants() -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        for pid in children.get(todo.pop(), []):
            out.append(pid)
            todo.append(pid)
    return out


def reap_all(grace_s: float = 60.0) -> None:
    """Wait until no child (adopted orphans included) is left; what outlives
    ``grace_s`` gets SIGTERM, then SIGKILL five seconds later."""
    deadline, sig = time.monotonic() + grace_s, None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            for pid in descendants():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
            deadline = time.monotonic() + 5
        time.sleep(0.05)


def exit_on_signal(signum, frame):
    raise SystemExit(128 + signum)


def host_fit() -> dict:
    """Cores from the affinity mask (what ``nproc`` prints), driver heap from
    MemAvailable, and the environment the JVM and Python workers inherit."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        avail_kb = next(int(line.split()[1]) for line in f if line.startswith("MemAvailable:"))
    heap_gb = max(1, min(8, int(avail_kb / 2**20 * 0.25)))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": f"{heap_gb}g",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return {"cores": cores, "mem_available_gb": round(avail_kb / 2**20, 2),
            "driver_memory": env["SPARK_DRIVER_MEMORY"], "pythonpath": env["PYTHONPATH"]}


def calibrate(cores: int) -> dict:
    """One wave of bench_scaling's alu and mem kernels, one task per core.
    The pool is started and warmed before the clock starts. It forks, before
    any JVM exists, so no resource-tracker process is started."""
    import multiprocessing

    from bench_scaling import _calibration_work, _calibration_work_mem

    out = {}
    with multiprocessing.get_context("fork").Pool(cores) as pool:
        pool.map(abs, range(cores))
        for name, fn in (("alu", _calibration_work), ("mem", _calibration_work_mem)):
            t = time.perf_counter()
            pool.map(fn, range(cores), chunksize=1)
            out[f"{name}_wave_s"] = round(time.perf_counter() - t, 3)
    return out


# --- inputs and references ------------------------------------------------------

def make_inputs(spec: dict, seed: int, out_dir: str) -> dict:
    import gen
    import oracle

    if spec["kind"] == "pipeline":
        lex = gen.fixture_lexicon()
        gen.write_lexicon(lex, f"{out_dir}/lexicons")
        rows = gen.corpus_rows(seed, lex, spec["turns"], spec["turns_per_conv"],
                               spec["mention_share"])
        gen.write_corpus(rows, f"{out_dir}/transcripts")
        expected = oracle.expected_graph(rows, lex)
        n_rows = len(rows)
    else:
        docs, embs, planted = gen.documents(seed, spec["docs"], spec["dup_share"])
        gen.write_documents(docs, embs, out_dir)
        expected = oracle.expected_dedup(docs, embs, DEDUP_PARAMS)
        expected["planted"] = planted
        n_rows = len(docs)
    return {"dir": out_dir, "digest": gen.tree_digest(out_dir), "expected": expected,
            "rows": n_rows}


# --- operations ------------------------------------------------------------------

def load_job():
    spec = importlib.util.spec_from_file_location(
        "run_kg_pipeline", os.path.join(ROOT, "jobs", "run_kg_pipeline.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def pipeline_op(job, inputs: dict, spec: dict, out_dir: str) -> None:
    argv = ["run_kg_pipeline.py", "--input", f"{inputs['dir']}/transcripts",
            "--lexicon-dir", f"{inputs['dir']}/lexicons", "--output", out_dir,
            "--buckets", str(spec["buckets"])]
    saved = sys.argv
    sys.argv = argv
    try:
        with contextlib.redirect_stdout(io.StringIO()):
            job.main()
    finally:
        sys.argv = saved


def dedup_op(spark, inputs: dict) -> dict:
    from adding_datasets_to_kg_spark.operators import dedup

    docs = spark.read.parquet(f"{inputs['dir']}/documents.parquet")
    embs = spark.read.parquet(f"{inputs['dir']}/embeddings.parquet")
    p = DEDUP_PARAMS
    return {
        "minhash_lsh": dedup.dedup_minhash_lsh(docs).collect(),
        "simhash64": dedup.dedup_simhash64(docs, max_hamming=p["simhash64"]["max_hamming"]).collect(),
        "ngram_jaccard": dedup.dedup_ngram_jaccard(
            docs, threshold=p["ngram_jaccard"]["threshold"],
            max_df=p["ngram_jaccard"]["max_df"]).collect(),
        "embedding_lsh": dedup.dedup_embedding_cosine(
            embs, threshold=p["embedding_lsh"]["threshold"],
            n_planes=p["embedding_lsh"]["n_planes"]).collect(),
    }


def check_pipeline(out_dir: str, spec: dict, expected: dict) -> tuple[list[str], dict]:
    import oracle
    import pyarrow.parquet as pq

    errs = []
    with open(os.path.join(out_dir, "metadata.json")) as f:
        md = json.load(f)
    rows = {}
    for table in ("kg_nodes", "kg_edges"):
        n = 0
        for dirpath, _, files in os.walk(os.path.join(out_dir, table, "data")):
            n += sum(pq.ParquetFile(os.path.join(dirpath, fn)).metadata.num_rows
                     for fn in files if fn.endswith(".parquet"))
        rows[table] = n
    errs += oracle.check_graph(md, expected, rows)
    ckpt_dir = os.path.join(out_dir, "_checkpoints")
    committed = 0
    for fn in os.listdir(ckpt_dir):
        if fn.startswith("bucket_") and fn.endswith(".json"):
            with open(os.path.join(ckpt_dir, fn)) as f:
                committed += json.load(f).get("status") == "complete"
    if committed != spec["buckets"]:
        errs.append(f"{committed} of {spec['buckets']} checkpoint rows committed")
    out_bytes = sum(os.path.getsize(os.path.join(d, fn))
                    for d, _, files in os.walk(out_dir) for fn in files)
    return errs, {"edges": md.get("edge_count"), "nodes": md.get("node_count"),
                  "out_bytes": out_bytes,
                  "out_bytes_per_edge": out_bytes / max(1, md.get("edge_count") or 0)}


def check_dedup(result: dict, expected: dict) -> tuple[list[str], dict]:
    import oracle
    import pyarrow as pa

    errs, info = [], {}
    planted = set(expected["planted"])
    out_bytes = n_pairs = 0
    for fam, rows in result.items():
        errs += oracle.check_pairs(fam, rows, expected[fam])
        got = {(int(r[0]), int(r[1])) for r in rows}
        info[f"{fam}.pairs_out"] = len(rows)
        info[f"{fam}.planted_recall"] = round(len(planted & got) / len(planted), 6)
        out_bytes += pa.Table.from_pylist([r.asDict() for r in rows]).nbytes if rows else 0
        n_pairs += len(rows)
    info["out_bytes_per_edge"] = out_bytes / max(1, n_pairs)
    return errs, info


# --- measurement -------------------------------------------------------------------

class Bench:
    def __init__(self, spec: dict, spark, inputs: dict, job):
        self.spec, self.spark, self.inputs, self.job = spec, spark, inputs, job
        self.sc = spark.sparkContext
        self.n_ops = 0

    def _heap_pools(self):
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]

    def _allocated_bytes(self) -> int:
        """Heap bytes allocated by all JVM threads since start, read through
        JMX (the HotSpot MXBean class itself is not accessible to py4j)."""
        jvm, gw = self.sc._jvm, self.sc._gateway
        cls = jvm.java.lang.Class
        sig = gw.new_array(cls, 2)
        sig[0], sig[1] = cls.forName("javax.management.ObjectName"), cls.forName("java.lang.String")
        get = cls.forName("javax.management.MBeanServerConnection").getMethod("getAttribute", sig)
        args = gw.new_array(jvm.java.lang.Object, 2)
        args[0] = jvm.javax.management.ObjectName("java.lang:type=Threading")
        args[1] = "TotalThreadAllocatedBytes"
        return get.invoke(jvm.java.lang.management.ManagementFactory.getPlatformMBeanServer(), args)

    def _release(self) -> None:
        """Drop what an operation left cached, so the next one starts alike."""
        self.spark.catalog.clearCache()
        for jrdd in list(self.sc._jsc.getPersistentRDDs().values()):
            jrdd.unpersist(True)

    def operation(self, tracer=None) -> dict:
        import layertrace as tr

        self.n_ops += 1
        out_dir = os.path.join(WORK, f"out_{self.n_ops}")
        self.sc._jvm.java.lang.System.gc()
        pools = self._heap_pools()
        for p in pools:
            p.resetPeakUsage()
        last_job, last_stage = tr.max_ids(self.sc)
        alloc0 = self._allocated_bytes()
        rec: dict = {"traced": tracer is not None}
        result = None
        try:
            if tracer is not None:
                tracer.begin("read")
            t0 = time.perf_counter()
            if self.spec["kind"] == "pipeline":
                pipeline_op(self.job, self.inputs, self.spec, out_dir)
            else:
                result = dedup_op(self.spark, self.inputs)
            rec["run_s"] = time.perf_counter() - t0
            t_end = tracer.end() if tracer is not None else time.time()
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            if tracer is not None:
                tracer.end()
            rec["errors"] = ["operation raised: " + traceback.format_exc(limit=3)]
            shutil.rmtree(out_dir, ignore_errors=True)
            self._release()
            return rec
        rec["heap_alloc_mb"] = (self._allocated_bytes() - alloc0) / 2**20
        rec["peak_heap_mb"] = sum(p.getPeakUsage().getUsed() for p in pools) / 2**20
        stages = tr.stage_rows(self.sc, last_stage)
        ran = tr.executed(stages)
        rec["task_core_s"] = sum(s["run_s"] for s in ran)
        rec["stages"] = len(ran)
        if tracer is not None:
            layers = PIPELINE_LAYERS if self.spec["kind"] == "pipeline" else ["read", *DEDUP_LAYERS]
            rec["layers"] = tr.layer_metrics(tracer, t_end, stages,
                                             tr.job_rows(self.sc, last_job), layers)
        if self.spec["kind"] == "pipeline":
            errs, info = check_pipeline(out_dir, self.spec, self.inputs["expected"])
        else:
            errs, info = check_dedup(result, self.inputs["expected"])
        rec.update(info)
        rec["errors"] = errs
        shutil.rmtree(out_dir, ignore_errors=True)
        self._release()
        return rec


def make_tracer(sc):
    """Wrap every layer entry point where its caller looks it up."""
    import layertrace as tr

    from adding_datasets_to_kg_spark import fsio, icetable
    from adding_datasets_to_kg_spark.operators import dedup
    from adding_datasets_to_kg_spark.plans import pipeline

    t = tr.LayerTracer(sc)
    for attr, layer in (("extract_linked_mentions", "extract_link"), ("emit_triples", "emit"),
                        ("build_nodes_for_edges", "nodes"), ("_predicate_census", "census"),
                        ("canonicalize_graph", "canonicalize"), ("_finalize_graph", "finalize"),
                        ("graph_metadata", "stats"), ("_write_graph_tables", "export"),
                        ("write_graph_artifacts", "artifacts"),
                        ("combine_bucket_triples", "combine"),
                        ("completed_buckets", "checkpoint")):
        t.wrap(pipeline, attr, layer)
    t.wrap(icetable, "write_table", "export")

    def text_layer(spark, path, *a, **kw):
        if "/_checkpoints/" in path:
            return "checkpoint"
        return "artifacts" if path.endswith("/metadata.json") else None

    t.wrap(fsio, "write_text_atomic", text_layer)
    for attr, layer in (("dedup_minhash_lsh", "minhash_lsh"), ("dedup_simhash64", "simhash64"),
                        ("dedup_ngram_jaccard", "ngram_jaccard"),
                        ("dedup_embedding_cosine", "embedding_lsh")):
        t.wrap(dedup, attr, layer)
    return t


def per_layer_names() -> list[str]:
    names = []
    for layer in PIPELINE_LAYERS:
        names += [f"{layer}.{m}" for m in ("wall_s", "task_core_s", "shuffle_write_mb",
                                           "spill_mb", "gc_s", "stages", "driver_gap_s")]
    for layer in DEDUP_LAYERS:
        names += [f"{layer}.{m}" for m in ("wall_s", "task_core_s", "shuffle_write_mb",
                                           "spill_mb", "stages", "pairs_out")]
    return names + ["unattributed_stages", "utilization", "traced_run_s", "blocking_wall_s",
                    "tracing_overhead_s", "peak_heap_mb"]


def unit(name: str) -> str:
    if name == "rows_per_s":
        return "1/s"
    if name.endswith("task_core_s"):
        return "core-s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name == "out_bytes_per_edge":
        return "bytes"
    return "ratio" if name == "utilization" else "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for path in ("adding_datasets_to_kg_spark/plans/pipeline.py", "jobs/run_kg_pipeline.py",
                 "bench_scaling.py"):
        if not os.path.isfile(os.path.join(ROOT, path)):
            print(f"perfbench: {path} not found; run from the repository root", file=sys.stderr)
            return 2
    sys.path[:0] = [HERE, ROOT]
    spec = WORKLOADS[args.workload]
    adopt_orphans()
    for signum in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(signum, exit_on_signal)
    shutil.rmtree(WORK, ignore_errors=True)
    gateway_proc = None
    try:
        host = host_fit()
        if args.trace:
            host["calibration"] = calibrate(host["cores"])

        t0 = time.perf_counter()
        from adding_datasets_to_kg_spark.session import get_spark

        spark = get_spark("perfbench", cpus=host["cores"])
        spark.sparkContext.setLogLevel("ERROR")
        gateway = spark.sparkContext._gateway
        gateway_proc = getattr(gateway, "proc", None)
        job = load_job()
        session_s = time.perf_counter() - t0

        setup_errors, rep_s, digests, inputs = [], [], set(), None
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            made = make_inputs(spec, args.seed, os.path.join(WORK, f"inputs_{rep}"))
            rep_s.append(time.perf_counter() - t)
            digests.add(made["digest"])
            if inputs is None:
                inputs = made
            else:
                shutil.rmtree(made["dir"])
        if len(digests) != 1:
            setup_errors.append(f"same seed gave {len(digests)} different input digests")
        setup_s = session_s + statistics.median(rep_s)

        bench = Bench(spec, spark, inputs, job)
        ops = []
        if args.trace:
            tracer = make_tracer(spark.sparkContext)
            tracer.install()
            try:
                ops.append(bench.operation(tracer))
            finally:
                tracer.restore()
        else:
            t_loop = time.perf_counter()
            while True:
                ops.append(bench.operation())
                spent = time.perf_counter() - t_loop
                if spent + spent / len(ops) > args.seconds:
                    break
        spark.stop()
        gateway.shutdown()
    finally:
        if gateway_proc is not None:
            gateway_proc.stdin.close()
            try:
                gateway_proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway_proc.kill()
                gateway_proc.wait()
        reap_all()
        shutil.rmtree(WORK, ignore_errors=True)

    failed = sum(1 for o in ops if o["errors"])
    good = [o for o in ops if not o["errors"]]
    med = lambda key, rows: statistics.median(o[key] for o in rows)  # noqa: E731
    metrics: dict[str, float] = {}
    if good and args.trace:
        op = good[0]
        metrics.update(op["layers"])
        for fam in DEDUP_LAYERS:
            metrics[f"{fam}.pairs_out"] = op.get(f"{fam}.pairs_out", 0)
        metrics["traced_run_s"] = op["run_s"]
        metrics["peak_heap_mb"] = op["peak_heap_mb"]
        metrics["utilization"] = op["task_core_s"] / (op["run_s"] * host["cores"])
        metrics = {n: metrics.get(n, 0.0) for n in per_layer_names()}
    elif good:
        run_s = med("run_s", good)
        metrics = {
            "run_s": run_s,
            "rows_per_s": inputs["rows"] / run_s,
            "task_core_s": med("task_core_s", good),
            "heap_alloc_mb": med("heap_alloc_mb", good),
            "out_bytes_per_edge": med("out_bytes_per_edge", good),
            "setup_s": setup_s,
        }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": host, "setup": {"session_s": session_s, "input_reps_s": rep_s,
                                "input_digest": sorted(digests)[0], "errors": setup_errors},
        "expected": {k: v for k, v in inputs["expected"].items()
                     if k in ("node_count", "edge_count", "edge_digest")},
        "samples": len(good),
        "ops": [{k: v for k, v in o.items() if k != "layers"} for o in ops],
    }
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": failed == 0 and not setup_errors and bool(ops),
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
