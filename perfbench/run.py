"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload tpch22 --seed 1 --seconds 10 --trace 0

Load model: a closed loop with one client. One op runs at a time on
local[<CPUs of this host>] through etl_poc_spark.session.get_spark; the
next op starts when the previous one returned. Every op's output is
collected inside its timed action and checked against perfbench/expected.json;
an op that raises or mismatches counts as failed.

The seed picks the op order of each pass (ops that read what an earlier op
wrote keep their order) and, for doc_pipeline, the input variant. Passes
repeat until --seconds have elapsed; a pass always completes. Pins, model
memos and cached frames are dropped after every op, so every op pays its
own training and caching.

--trace 0 reports the end-to-end metrics. --trace 1 runs one pass with the
instrumentation of spans.py installed, reports the per-layer metrics and
writes the spans to .bench_work/trace/. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SF = os.path.join(HERE, "data", "sf0.01")


def _metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the metrics BENCHMARK.json lists under `kind`
    ("end_to_end" or "per_layer")."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _args(argv=None):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", default=DEFAULT_SF, help="input tables (default: perfbench/data/sf0.01)")
    ap.add_argument("--emit-digests", default=None,
                    help="write each op's output digest to this JSON file instead of checking it "
                         "(regen_expected.py)")
    ap.add_argument("--adversarial", action="store_true",
                    help="local[3], 7 shuffle partitions, AQE off (regen_expected.py)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "etl_poc_spark", "session.py")):
        print(f"perfbench: no engine package etl_poc_spark under {ROOT}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(args.sf_dir, "documents.parquet")):
        print(f"perfbench: no input tables under {args.sf_dir}", file=sys.stderr)
        return 2
    from procstat import become_subreaper, stop_descendants

    bench_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # every file the engine, Spark and its Python workers write stays in
    # the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)
    become_subreaper()
    try:
        return _run(args, work, bench_root)
    finally:
        _stop_jvm()
        left = stop_descendants()
        if left:
            print(f"perfbench: had to signal processes {left} to end them", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)


def _stop_jvm(timeout_s: float = 30.0) -> None:
    """End the JVM that pyspark launched and wait for it. The gateway exits
    when its stdin closes; left alone it would do so only after this process
    has exited, with nothing waiting for it."""
    import subprocess

    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _run(args, work: str, bench_root: str) -> int:
    from check import load_expected
    from procstat import ProcTree
    from workloads import WORKLOADS, Ctx

    scale = os.path.basename(args.sf_dir.rstrip("/"))
    expected = None if args.emit_digests else load_expected().get(scale, {})
    digests = {} if args.emit_digests else None
    proc = ProcTree()

    t = time.perf_counter()
    from etl_poc_spark import registry
    from etl_poc_spark.operators.pins import clear_memos, release_pins
    from etl_poc_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.adversarial:
        cpus = 3
        conf.update({"spark.sql.shuffle.partitions": "7", "spark.sql.adaptive.enabled": "false"})
    spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    setup = {"session.start_s": time.perf_counter() - t}
    try:
        t = time.perf_counter()
        registry.load_all()
        setup["registry.load_s"] = time.perf_counter() - t

        t = time.perf_counter()
        registry.QUERIES["pricing_summary"](spark, args.sf_dir).toPandas()
        if WORKLOADS[args.workload].warmup:
            WORKLOADS[args.workload].warmup(spark, work)
        release_pins()
        clear_memos()
        spark.catalog.clearCache()
        setup["warmup_s"] = time.perf_counter() - t

        t = time.perf_counter()
        ctx = Ctx(spark=spark, sf_dir=args.sf_dir, work=work, seed=args.seed,
                  fixtures=os.path.join(work, "fixtures"))
        os.makedirs(ctx.fixtures)
        if WORKLOADS[args.workload].fixtures:
            WORKLOADS[args.workload].fixtures(ctx)
        setup["fixtures_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - _T0
        proc.sample()

        tracer = status = None
        if args.trace:
            from spans import StatusStore, Tracer

            tracer, status = Tracer(), StatusStore(spark)

        results = []
        t_measure = time.perf_counter()
        while True:
            results.append(_pass(ctx, args.workload, len(results), tracer, status, proc, expected, digests))
            # a traced run measures one pass: later passes run warmer code,
            # so only the first compares with an untraced run's pass
            if args.trace or time.perf_counter() - t_measure >= args.seconds:
                break
        proc.sample()

        if digests is not None:
            with open(args.emit_digests, "w") as fh:
                json.dump(digests, fh, indent=1, sort_keys=True)

        attempted = sum(r["attempted"] for r in results)
        failed = sum(r["failed"] for r in results)
        per_op: dict[str, list[float]] = {}
        for r in results:
            for name, w in r["op_walls"].items():
                per_op.setdefault(name, []).append(w)
        e2e = {"setup_s": setup_s, "wall_s": statistics.median(r["wall_s"] for r in results)}
        op_geomean_s = _geomean(statistics.median(v) for v in per_op.values())
        print(f"workload={args.workload} seed={args.seed} passes={len(results)} ops/pass={len(per_op)} "
              f"failed_ratio={failed / attempted:.4f} ({failed}/{attempted})")
        for name, walls in per_op.items():
            print(f"  op {name}: median {statistics.median(walls):.3f} s over {len(walls)}")
        e2e_units = _metric_units("end_to_end")
        for k, u in e2e_units.items():
            print(f"  {k} = {e2e[k]:.4f} {u}")
        print(f"  op_geomean_s (geometric mean of per-op wall time) = {op_geomean_s:.4f} s")
        print(f"  peak RSS (JVM + Python, sum of per-process peaks) = {proc.peak_rss_mb():.1f} MB")
        if args.trace:
            metrics = _per_layer(results[0], setup, tracer, proc, spark, failed / attempted)
            os.makedirs(os.path.join(bench_root, "trace"), exist_ok=True)
            span_path = os.path.join(bench_root, "trace", f"{args.workload}-seed{args.seed}.jsonl")
            tracer.write(span_path, results[0]["job_spans"])
            print(f"  spans -> {os.path.relpath(span_path, ROOT)}")
            for k, (v, unit) in sorted(metrics.items()):
                print(f"  {k} = {v:.6g} {unit}")
        else:
            metrics = {k: (e2e[k], u) for k, u in e2e_units.items()}
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        spark.stop()


def _pass(ctx, workload: str, pass_no: int, tracer, status, proc, expected, digests) -> dict:
    """Run one pass; returns its op walls, failures and counters. With
    `digests` set, each op's digest is recorded instead of checked."""
    from check import digest
    from workloads import WORKLOADS, input_bytes, op_key, pass_order, store_accounting, store_slots

    from etl_poc_spark.operators.pins import clear_memos, release_pins

    stores = WORKLOADS[workload].stores
    ctx.pass_dir = os.path.join(ctx.work, f"pass{pass_no}")
    os.makedirs(ctx.pass_dir)
    ctx.counters, ctx.state = {}, {}
    res = {"attempted": 0, "failed": 0, "op_walls": {}, "job_spans": []}
    add = ctx.add
    sc = ctx.spark.sparkContext

    if tracer:
        tracer.install()
    written = 0
    try:
        for i, op in enumerate(pass_order(ctx, workload, pass_no)):
            if op.prep:
                op.prep(ctx)
            before = store_accounting(ctx) if stores else None
            op_id = f"p{pass_no}-{i}-{op.name}"
            if tracer:
                cpu0 = proc.worker_cpu_s()
                sc.setJobGroup(op_id, op.name)
                tracer.begin_op(op_id, op.name)
            w0, e0 = time.perf_counter(), time.time()
            err = None
            try:
                out = op.fn(ctx)
            except Exception as exc:  # noqa: BLE001 — a failing op is counted and the pass goes on
                out, err = None, exc
            wall = time.perf_counter() - w0
            e1 = time.time()
            if tracer:
                tracer.end_op()
                sc.setLocalProperty("spark.jobGroup.id", None)
                m, spans = status.op_metrics(op_id, e0, e1)
                for k, v in m.items():
                    add(k, v)
                res["job_spans"] += spans
                add("python.worker_cpu_s", proc.worker_cpu_s() - cpu0)
                _llm_accounting(ctx, op.name, tracer, add)
                status.mark()
            add("pins.pinned", release_pins())
            add("pins.memos_cleared", clear_memos())
            ctx.spark.catalog.clearCache()
            proc.sample()
            if stores:
                after = store_accounting(ctx)
                written += sum(size for p, (size, mt) in after.items() if before.get(p) != (size, mt))

            res["attempted"] += 1
            res["op_walls"][op.name] = wall
            for phase in ("read_before_compact", "read_after_compact"):
                if op.name.startswith(f"store.{phase}"):
                    add(f"store.{phase}_s", wall)
            key = op_key(workload, ctx.seed, op.name)
            if err is None:
                d = digest(out)
                if digests is not None:
                    digests[key] = d
                elif expected.get(key) != d:
                    err = f"output digest {d} != expected {expected.get(key)}"
            if err is not None:
                res["failed"] += 1
                print(f"FAILED {key}: {err}", file=sys.stderr)
        if stores:
            final = store_accounting(ctx)
            inp = input_bytes(ctx.fixtures)
            add("store.bytes_written", written)
            add("store.files_listed", len(final))
            add("store.slots", store_slots(ctx))
            add("store.write_amp", written / inp)
            add("store.space_amp", sum(s for s, _ in final.values()) / inp)
    finally:
        if tracer:
            tracer.uninstall()
        shutil.rmtree(ctx.pass_dir, ignore_errors=True)
    res["counters"] = dict(ctx.counters)
    res["wall_s"] = sum(res["op_walls"].values())
    return res


def _llm_accounting(ctx, op_name: str, tracer, add) -> None:
    """Fold the op's llm_map/llm_reduce accumulators into the counters.
    Retries are provider calls beyond one per llm_map input row; counting
    those rows runs after the op, under a job group of its own. The cache
    hit ratio is 1 - provider calls / distinct input keys of the cache op."""
    from workloads import CACHE_FULL_OP, distinct_cache_keys

    sc = ctx.spark.sparkContext
    map_calls = 0
    for name, inp, accs in tracer.llm_results:
        calls = accs["calls"].value
        add("llm.calls", calls)
        if "prompt_chars" in accs:
            add("llm.prompt_chars", accs["prompt_chars"].value)
        if name == "llm_map":
            map_calls += calls
            sc.setJobGroup("perfbench-accounting", "llm_map input rows")
            add("llm.retries", calls - inp.count())
            sc.setLocalProperty("spark.jobGroup.id", None)
    tracer.llm_results.clear()
    if op_name == CACHE_FULL_OP:
        add("llm.cache_hit_ratio", 1.0 - map_calls / distinct_cache_keys(ctx))


def _geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def _per_layer(traced: dict, setup: dict, tracer, proc, spark, failed_ratio: float) -> dict:
    from spans import jvm_gc_s

    c = {**traced["counters"], **tracer.counters, **setup}
    c["jvm.gc_s"] = jvm_gc_s(spark)
    c["jvm.peak_rss_mb"] = proc.jvm_peak_rss_mb()
    c["proc.peak_rss_mb"] = proc.peak_rss_mb()
    c["bench.failed_ratio"] = failed_ratio
    c["trace.wall_s"] = traced["wall_s"]
    c["trace.op_geomean_s"] = _geomean(traced["op_walls"].values())
    c["trace.overhead_ratio"] = c.get("trace.overhead_s", 0.0) / (traced["wall_s"] - c.get("trace.overhead_s", 0.0))
    for layer, v in tracer.self_times().items():
        c[f"self.{layer}_s"] = v
    # a layer the workload never reached reports 0
    return {k: (c.get(k, 0.0), u) for k, u in _metric_units("per_layer").items()}


if __name__ == "__main__":
    sys.exit(main())
