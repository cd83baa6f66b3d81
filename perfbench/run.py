"""Steady-state extraction benchmark.

    python3 perfbench/run.py --workload docs_mixed --seed 1 --seconds 15 --trace 0

Generates the workload's inputs from the seed (cached under
``.perfbench_cache/``), starts one driver on ``local[<nproc>]``, runs
untimed warm-up passes until pass wall time stops falling, then runs timed
passes for ``--seconds`` and checks every output document of every timed
pass against the generation goldens. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is the separate
traced run: timed passes alternate with and without tracing, then each
layer is measured from outside (kernel replay, separate materialisations,
checkpoint resume, a one-slot pass), the span file is written and the
per-layer metrics are printed. Metric names and units are read from
``BENCHMARK.json``; ``perfbench/metrics.json`` says what each measures,
which layer it belongs to and what it should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
CACHE = os.path.join(ROOT, ".perfbench_cache")

# Untimed warm-up passes run until a pass is no longer PLATEAU faster than
# every earlier one, within these limits. With the JVM's C2 compiler, pass
# walls on a 4-core host fall by about a third over ten passes while C2
# compiles Spark's code, more than the run budget can wait for; with C1
# alone (JVM_OPTIONS) they are flat after the cold pass. The budget sits
# below the ~12 s the cold pass and the next take, so no third pass starts
# and the count does not flip between runs (setup.first_timed_over_median
# reports any trend that is left).
MIN_WARMUP, MAX_WARMUP = 2, 6
WARMUP_BUDGET_S = 9.0  # no new warm-up pass starts after this
PLATEAU = 0.05  # a pass this much faster than every earlier one is a trend
MIN_TIMED = 2
# Every JVM the benchmark starts: its tmpdir inside the checkout, no perf
# data file under /tmp, and JIT compilation stopped at C1 (see above) with
# the code cache C2 would have had, so the cache never fills and disables
# the compiler.
JVM_OPTIONS = ("-XX:-UsePerfData", "-XX:TieredStopAtLevel=1",
               "-XX:ReservedCodeCacheSize=240m")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _pin_env() -> None:
    # one BLAS thread in the driver, as in the workers: the kernel replay
    # and the host probe must measure what one task slot does
    for k in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[k] = "1"
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # everything Spark and its workers write stays inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    # every JVM, spark-submit's launcher too
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        (f"-Djava.io.tmpdir={tmp}",) + JVM_OPTIONS)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()]
        + ["pyspark-shell"]
    )


class Bench:
    """One driver process: session, passes, measurements."""

    def __init__(self, workload: str, inputs, trace: bool):
        import host
        from spans import Tracer

        self.workload = workload
        self.inputs = inputs
        self.tracer = Tracer(trace)
        self.sampler = host.TreeSampler()
        self.spark = None
        self.status = None
        self.cfg = _workload_config(workload)
        self.docs = inputs.info["docs"]
        self.passes: list[dict] = []
        self.layer: dict[str, float] = {}
        self._out_seq = 0
        # seconds spent reading Spark's status: the benchmark's own work,
        # taken out of setup_s
        self.status_s = 0.0

    # -- session -----------------------------------------------------------
    def start(self, cores: int) -> None:
        from ppocr_spark.pipeline import build_session, warm_workers
        from status import SparkStatus

        t0 = time.perf_counter()
        self.spark = build_session("perfbench", cores=cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        warm_workers(self.spark)
        t2 = time.perf_counter()
        self.documents = self.spark.read.parquet(self.inputs.documents_path)
        self.media = self.spark.read.parquet(self.inputs.media_path)
        self.status = SparkStatus(self.spark.sparkContext)
        self.layer.setdefault("setup.session_s", t1 - t0)
        self.layer.setdefault("setup.warm_workers_s", t2 - t1)

    def stop(self, keep_jvm: bool = False) -> None:
        """Stop Spark, then (unless ``keep_jvm``) the JVM, and wait until
        it has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if keep_jvm:
            return
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    # -- passes ------------------------------------------------------------
    def _fresh_dir(self) -> str:
        self._out_seq += 1
        d = os.path.join(CACHE, "out", f"{os.getpid()}-{self._out_seq}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def _action(self, traced: bool):
        """Run the workload once → (a callable that yields its output rows
        as (doc_id, spans) for the golden check, the program's per-stage
        counters or None)."""
        from ppocr_spark.pipeline import extract_documents, make_stage_metrics
        from ppocr_spark.sources.sinks import write_results

        if self.workload == "docs_mixed":
            # traced passes also turn on the program's own per-stage
            # counters, which is part of what trace.overhead_ratio prices
            metrics = make_stage_metrics(self.spark) if traced else None
            rows = extract_documents(
                self.documents, self.media, self.cfg, metrics=metrics
            ).collect()
            return (lambda: [(r["doc_id"], [tuple(s) for s in r["spans"]])
                             for r in rows]), metrics
        out = self._fresh_dir()
        write_results(extract_documents(self.documents, self.media, self.cfg,
                                        broadcast_media=False), out)
        return (lambda: _take_results(out)), None

    def run_pass(self, label: str, traced: bool = False, check: bool = True) -> dict:
        from ppocr_spark.pipeline import snapshot_stage_metrics

        def span(name, **kw):
            return self.tracer.span(name, **kw) if traced else nullcontext({})

        group = f"{label}-{len(self.passes)}"
        self.spark.sparkContext.setJobGroup(group, group)
        with span("pass", trace=group) as counts:
            c0 = self.sampler.cpu_s()
            t0 = time.perf_counter()
            error = rows = None
            try:
                with span("action") as stage:
                    rows, metrics = self._action(traced)
                stage.update(snapshot_stage_metrics(metrics))
            except Exception as e:  # a pass that throws is a failed pass
                error = repr(e)
            wall = time.perf_counter() - t0
            cpu = self.sampler.cpu_s() - c0
        rec = {"label": label, "traced": traced, "wall_s": wall, "cpu_s": cpu,
               "error": error}
        if check:
            from inputs import compare

            rec["check"] = (compare(self.inputs.golden, rows()) if rows
                            else {"failed": self.docs, "structural": self.docs,
                                  "failed_ids": list(self.inputs.golden)})
            counts.update(docs=self.docs, failed=rec["check"]["failed"])
        # warm-up passes read the status too: the first read after a new
        # session takes about 3 s (the REST stack warms and pages every
        # earlier execution), which must not land in the timed window
        t0 = time.perf_counter()
        rec["spark"] = self.status.pass_metrics(group)
        self.status_s += time.perf_counter() - t0
        self.sampler.sample()
        self.passes.append(rec)
        return rec

    def warm_up(self) -> None:
        t0, s0 = time.perf_counter(), self.status_s
        walls: list[float] = []
        while True:
            rec = self.run_pass("warmup", check=False)
            if rec["error"]:
                raise RuntimeError(f"warm-up pass failed: {rec['error']}")
            walls.append(rec["wall_s"])
            n = len(walls)
            flat = n > 1 and walls[-1] >= (1 - PLATEAU) * min(walls[:-1])
            spent = (n >= MAX_WARMUP or time.perf_counter() - t0
                     - (self.status_s - s0) > WARMUP_BUDGET_S)
            if n >= MIN_WARMUP and (flat or spent):
                break
        self.layer["setup.warmup_passes_s"] = (
            time.perf_counter() - t0 - (self.status_s - s0))
        self.layer["setup.warmup_passes"] = float(len(walls))

    def timed(self, seconds: float, alternate_traced: bool) -> list[dict]:
        t0 = time.perf_counter()
        out = []
        while len(out) < MIN_TIMED or time.perf_counter() - t0 < seconds:
            traced = alternate_traced and len(out) % 2 == 1
            out.append(self.run_pass("timed", traced=traced))
        return out


def _workload_config(workload: str):
    from inputs import corpus_config

    cfg = corpus_config()
    return cfg.replace(html_strip="main") if workload == "docs_text_heavy" else cfg


def _take_results(out: str):
    """Rows written to ``out`` as (doc_id, spans); removes ``out``."""
    import pyarrow.parquet as pq

    t = pq.read_table(out, columns=["doc_id", "spans"])
    rows = [
        (r["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["order"],
                        s["code"]) for s in r["spans"]])
        for r in t.to_pylist()
    ]
    shutil.rmtree(out, ignore_errors=True)
    return rows


def _median(values):
    return statistics.median(values) if values else 0.0


def failed_docs(timed: list[dict]) -> set:
    """Documents that failed in any timed pass. Each document is one
    operation per run, however many passes the run's seconds allowed, so
    that the count depends on the seed alone."""
    return {d for p in timed for d in p["check"]["failed_ids"]}


def end_to_end(bench: Bench, timed: list[dict], setup_s: float) -> dict:
    ok = [p for p in timed if not p["error"] and not p["traced"]]
    info = bench.inputs.info
    failed = len(failed_docs(timed))
    out = {
        "peak_worker_rss_mb": bench.sampler.peak_worker_mb,
        "setup_s": setup_s,
        "doc_match_ratio": (bench.docs - failed) / bench.docs,
    }
    if ok:  # rates exist only if some pass completed
        wall = _median([p["wall_s"] for p in ok])
        out["docs_per_sec"] = info["docs"] / wall
        out["media_spans_per_sec"] = info["media_spans"] / wall
        out["cpu_s_per_doc"] = _median([p["cpu_s"] for p in ok]) / info["docs"]
    return out


def spark_layer(timed: list[dict]) -> dict:
    """Medians over the untraced timed passes of Spark's own status."""
    ok = [p for p in timed if not p["error"] and not p["traced"]]
    keys = sorted({k for p in ok for k in p["spark"]})
    out = {k: _median([p["spark"][k] for p in ok if k in p["spark"]])
           for k in keys}
    if out.get("arrow.python_run_s"):
        out["arrow.init_over_run"] = (out["arrow.python_init_s"]
                                      / out["arrow.python_run_s"])
    return out


def traced_layers(bench: Bench) -> dict:
    """Per-layer measurements of the traced run, each from outside."""
    import pyarrow.parquet as pq

    from ppocr_spark.checkpoint import run_resumable
    from ppocr_spark.functions.boilerplate import main_content
    from ppocr_spark.pipeline import (
        explode_spans, media_results_as_spans, normalize_text_spans,
        ocr_media_spans, reassemble,
    )
    from pyspark.sql import functions as F
    from spans import kernel_replay

    tr, spark, cfg = bench.tracer, bench.spark, bench.cfg
    docs, media = bench.documents, bench.media
    broadcast = False if bench.workload == "docs_text_heavy" else None
    out: dict[str, float] = {}

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def text_branch():
        return normalize_text_spans(explode_spans(docs), cfg.html_strip)

    def media_branch():
        return media_results_as_spans(
            ocr_media_spans(explode_spans(docs), media, cfg, broadcast))

    staged = os.path.join(bench._fresh_dir(), "union")
    text_branch().unionByName(media_branch()).write.parquet(staged)
    union = spark.read.parquet(staged)
    materialise = {
        "pipeline.text_branch_s": lambda: noop(text_branch()),
        "pipeline.media_branch_s": lambda: noop(media_branch()),
        "pipeline.reassemble_s":
            lambda: noop(reassemble(union, cfg.doc_salt_buckets)),
        "boilerplate.main_content_s": lambda: noop(main_content(
            explode_spans(docs).filter(F.col("kind") == "text"),
            html_col="text", out_col="main")),
    }
    # each twice: the first run of a new plan pays its code generation
    for key, fn in materialise.items():
        for rep in range(2):
            with tr.span(key, trace=f"{key}#{rep}"):
                fn()
        out[key] = tr.durations(key)[-1]
    shutil.rmtree(os.path.dirname(staged), ignore_errors=True)

    ckpt = bench._fresh_dir()
    with tr.span("checkpoint.run_resumable", trace="checkpoint"):
        run_resumable(spark, docs, media, ckpt, cfg, broadcast_media=broadcast)
    files = [os.path.join(d, f) for d, _, fs in os.walk(ckpt) for f in fs]
    data = [f for f in files if not os.path.basename(f).startswith((".", "_"))]
    with tr.span("checkpoint.resume_noop", trace="checkpoint"):
        run_resumable(spark, docs, media, ckpt, cfg, broadcast_media=broadcast)
    out["checkpoint.run_resumable_s"] = tr.durations("checkpoint.run_resumable")[0]
    out["checkpoint.resume_noop_s"] = tr.durations("checkpoint.resume_noop")[0]
    out["checkpoint.files_written"] = float(len(data))
    out["checkpoint.bytes_written"] = float(sum(os.path.getsize(f) for f in data))
    shutil.rmtree(ckpt, ignore_errors=True)

    golden = bench.inputs.golden
    refs = [s[2].partition("#page=")[0] for g in golden.values() for s in g
            if s[0] == "media"]
    out["pipeline.spans_per_distinct_payload"] = len(refs) / len(set(refs))
    t = pq.read_table(bench.inputs.media_path)
    payloads = dict(zip(t.column("media_ref").to_pylist(),
                        t.column("content").to_pylist()))
    out.update(kernel_replay(tr, golden, payloads, cfg))
    return out


def scaling(bench: Bench, rate_n: float, cores: int) -> dict:
    """One pass at one task slot, in a new session on the warm JVM, after
    one untimed pass in that session so that both rates are warm."""
    bench.stop(keep_jvm=True)
    bench.start(1)
    bench.run_pass("scaling-warmup", check=False)
    rec = bench.run_pass("scaling")
    rate_1 = bench.docs / rec["wall_s"]
    return {"scaling.local1_docs_per_sec": rate_1,
            "scaling.efficiency_1_to_4": rate_n / (cores * rate_1)}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ppocr_spark", "__init__.py")):
        print("perfbench: the ppocr_spark package is not next to perfbench/; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    _pin_env()
    sys.path.insert(0, ROOT)
    import host
    import inputs

    if args.workload not in inputs.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {', '.join(inputs.WORKLOADS)}", file=sys.stderr)
        return 2
    inp, gen_s = inputs.ensure_inputs(CACHE, args.workload, args.seed)
    cores = host.nproc()
    t0 = time.perf_counter()
    hostblock = {"host.nproc": float(cores),
                 "host.probe_iters_per_s.start": host.compute_probe()}
    probe_s = time.perf_counter() - t0
    bench = Bench(args.workload, inp, bool(args.trace))
    try:
        bench.start(cores)
        bench.warm_up()
        # set-up is the program's: input generation, the host probe and
        # the status reads are the benchmark's own work
        setup_s = host.process_age_s() - gen_s - probe_s - bench.status_s
        hostblock["host.loadavg_1m"] = host.loadavg_1m()
        timed = bench.timed(args.seconds, alternate_traced=bool(args.trace))
        hostblock["host.probe_iters_per_s.end"] = host.compute_probe()
        print("perfbench: host " + " ".join(
            f"{k[5:]}={v:.6g}" for k, v in hostblock.items()), file=sys.stderr)
        e2e = end_to_end(bench, timed, setup_s)
        layer = {}
        if args.trace:
            layer.update(bench.layer)
            layer.update(hostblock)
            layer.update(spark_layer(timed))
            untraced = [p["wall_s"] for p in timed if not p["traced"]]
            traced = [p["wall_s"] for p in timed if p["traced"]]
            layer["trace.overhead_ratio"] = _median(untraced) / _median(traced)
            first = bench.passes[0]["wall_s"]
            layer["setup.cold_over_steady"] = first / _median(untraced)
            layer["setup.first_timed_over_median"] = (
                timed[0]["wall_s"] / _median(untraced))
            layer.update(traced_layers(bench))
            bench.sampler.sample()
            layer["mem.jvm_hwm_mb"] = bench.sampler.peak_jvm_mb
            layer["mem.tree_hwm_mb"] = bench.sampler.peak_tree_mb
            layer.update(scaling(bench, e2e["docs_per_sec"], cores))
    finally:
        bench.stop()

    failed = len(failed_docs(timed))
    structural = sum(p["check"]["structural"] for p in timed)
    # the recognition band is deterministic per seed: every pass must fail
    # the same documents, or the program's output depends on the run
    band = {tuple(sorted(p["check"]["mismatched"])) for p in timed
            if not p["error"]}
    if len(band) > 1:
        print("perfbench: passes disagree on which documents mismatch",
              file=sys.stderr)
    errors = [p["error"] for p in timed if p["error"]]
    _write_run_record(args, inp, gen_s, bench, timed, hostblock, e2e, layer)
    if args.trace:
        os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
        path = os.path.join(CACHE, "traces",
                            f"{args.workload}-s{args.seed}.jsonl")
        bench.tracer.write(path)
        print(f"perfbench: spans written to {path}", file=sys.stderr)
    table = _metrics_table()
    declared = table["per_layer" if args.trace else "end_to_end"]
    values = layer if args.trace else e2e
    missing = [m["name"] for m in declared if m["name"] not in values]
    for name in missing:
        print(f"perfbench: metric {name} was not produced", file=sys.stderr)
    print(json.dumps({
        "correct": not (structural or errors or missing or len(band) > 1),
        "attempted": bench.docs,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]),
                                "unit": m["unit"]}
                    for m in declared if m["name"] in values},
    }))
    return 0


def _metrics_table() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _write_run_record(args, inp, gen_s, bench, timed, hostblock, e2e, layer):
    os.makedirs(os.path.join(CACHE, "runs"), exist_ok=True)
    path = os.path.join(
        CACHE, "runs",
        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json")
    with open(path, "w") as fh:
        json.dump({"args": vars(args), "inputs": inp.info, "gen_s": gen_s,
                   "passes": bench.passes, "host": hostblock,
                   "end_to_end": e2e,
                   "layer": layer}, fh, indent=1)
    walls = [round(p["wall_s"], 3) for p in bench.passes]
    print(f"perfbench: pass walls {walls}; record {path}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
