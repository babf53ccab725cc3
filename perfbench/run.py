"""The engine's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 5 --trace 0

Run from the root of a checkout; everything it writes goes under
``.bench_build/perfbench`` there. A run is one batch job, the way the
engine is deployed (a fresh driver per job):

1. it generates its inputs in a child process (``datagen.py``) that
   exits before Spark starts: the table fixture once per checkout (fixed
   seed, so the stored oracle fingerprints apply) and, for the workload
   that scores images, a CIFAR-10 archive from ``--seed``;
2. it sets up the engine: ``get_spark`` (which launches the JVM), a
   Python-worker warm-up on every task slot and the ``cifar_pickle``
   DataSource registration, timed together as ``setup_s``;
3. it runs whole passes over the workload, one operation after another
   in an order drawn from ``--seed``, until ``--seconds`` have passed.
   Every pass takes longer than the configured five seconds, so a run
   is one pass, paying each operation's first-run cost (JIT and code
   generation) as every job of the engine does;
4. it checks every operation's output: query results against the
   stored oracle fingerprints, the CIFAR pipeline against a NumPy replay
   of the scoring. An operation that raises or is wrong counts as failed.

With ``--trace 1`` the run instead makes one traced pass over the
operations of every workload, this run's workload first, so that each
layer metric is measured in every traced run; then it probes the CIFAR
source, scorer, evaluation and sink one at a time, and counts the
MinHash-LSH candidates and verified pairs. It prints each operation's
construction, planning and execution wall and the jobs of each, and the
share of each phase per workload. Spans are written to
``.bench_build/perfbench/trace-<workload>-seed<seed>.json``. The
tracing overhead is ``trace.pass_s`` minus the untraced runs' ``pass_s``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the lines before it show the
same figures and a few more for a reader. ``--scale smoke`` runs on tiny
inputs and ``--corrupt-expected NAME`` replaces the expected result of
one operation with a wrong one; ``smoke.py`` uses both.
"""

from __future__ import annotations

import argparse
import dataclasses
import importlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

# A driver heap that fits a small shared host; the engine's default
# (16g) is larger than some hosts' memory.
DRIVER_MEM = "2g"
OPERATOR_MODULES = ("dedup", "similarity", "graph", "pipeline", "relational", "text")


def log(msg: str) -> None:
    print(f"perfbench [{time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import SCALES, WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="bench")
    p.add_argument("--corrupt-expected", action="append", default=[], metavar="NAME")
    args = p.parse_args(argv)
    if not args.seconds > 0:
        p.error("--seconds must be positive")
    return args


def require_engine() -> None:
    """Exit before starting anything when the engine is not beside the
    benchmark (a checkout holding only the benchmark's own files)."""
    missing = [
        name
        for name in ("__spark_entry__.py", "hdinsight_pyspark_cntk_integration_spark", "tools")
        if not os.path.exists(os.path.join(ROOT, name))
    ]
    if missing:
        print(f"perfbench: engine files missing from {ROOT}: {missing}", file=sys.stderr)
        raise SystemExit(2)


def prepare_environment() -> dict[str, str]:
    """Keep every file Spark and its workers write inside the checkout,
    and let the Python workers import the engine."""
    tmp = os.path.join(BUILD, "tmp")
    local = os.path.join(BUILD, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Neither JVM (spark-submit's launcher, the driver) may write its
    # perf-data file to /tmp/hsperfdata_*.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Without the engine on PYTHONPATH every mapInPandas task fails on
    # the workers with ModuleNotFoundError.
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    return {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(BUILD, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def generate_inputs(scale_name: str, seed: int, cifar: bool) -> None:
    """Write the inputs in a process of their own, which exits before
    Spark starts: the memory it takes is no part of the measured tree."""
    from workloads import SCALES

    scale = SCALES[scale_name]
    cmd = [sys.executable, os.path.join(HERE, "datagen.py"),
           "--build", BUILD, "--sf", f"{scale.sf:g}"]
    if cifar:
        cmd += ["--cifar-seed", str(seed), "--per-member", str(scale.images_per_member)]
    subprocess.run(cmd, check=True, timeout=600)


def _pass_through(batches):
    yield from batches


def setup(extra_conf: dict[str, str]):
    """get_spark (JVM launch included) + worker warm-up + registration."""
    from hdinsight_pyspark_cntk_integration_spark import get_spark
    from hdinsight_pyspark_cntk_integration_spark.sources.cifar_datasource import (
        CifarPickleDataSource,
    )

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    par = spark.sparkContext.defaultParallelism
    spark.range(par).repartition(par).mapInPandas(_pass_through, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    t2 = time.perf_counter()
    spark.dataSource.register(CifarPickleDataSource)
    t3 = time.perf_counter()
    return spark, {
        "session.get_spark_s": t1 - t0,
        "session.worker_warmup_s": t2 - t1,
        "session.register_s": t3 - t2,
    }


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python daemon and
    workers it started) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Workbench:
    """The operations of the given workloads over one session and inputs."""

    def __init__(self, spark, scale_name: str, names: list[str], corrupt: list[str]):
        import __spark_entry__ as entrymod
        import datagen
        import oracle
        from workloads import CIFAR_SCORING, SCALES, cifar_op, query_op

        scale = SCALES[scale_name]
        self.spark = spark
        self.check_cpu_s = 0.0  # driver CPU spent checking outputs
        self.sf_dir = datagen.fixture_dir(BUILD, scale.sf)
        self.out_dir = os.path.join(BUILD, "out")
        expected = oracle.load(scale_name)
        for name in corrupt:
            if name in expected:
                expected[name] = dict(expected[name], sha256="0" * 64)
        queries = entrymod.queries()
        self.ops = {
            n: query_op(spark, queries, n, self.sf_dir, expected[n]) for n in names if n in queries
        }
        self.cifar = None
        if CIFAR_SCORING in names:
            cifar = datagen.load_cifar(os.path.join(BUILD, "cifar"))
            if CIFAR_SCORING in corrupt:
                cifar = dataclasses.replace(cifar, expected_correct=cifar.expected_correct + 1)
            self.cifar = cifar
            self.ops[CIFAR_SCORING] = cifar_op(spark, cifar, os.path.join(self.out_dir, "csv"))

    def check(self, name: str, output) -> str | None:
        c0 = time.process_time()
        try:
            return self.ops[name].check(output)
        except Exception as exc:  # a malformed output is a wrong one
            return f"check raised {type(exc).__name__}: {exc}"
        finally:
            self.check_cpu_s += time.process_time() - c0

    def run_op(self, name: str) -> tuple[float, str | None]:
        """Build and execute one operation; its wall and its error (an
        exception or a wrong output) or None. The check is not timed."""
        op = self.ops[name]
        t0 = time.perf_counter()
        try:
            output = op.execute(op.build())
        except Exception as exc:  # reported as a failed operation
            return time.perf_counter() - t0, f"raised {type(exc).__name__}: {exc}"
        return time.perf_counter() - t0, self.check(name, output)


def untraced(args, bench: Workbench, setup_metrics: dict) -> tuple[dict, dict]:
    import proctree
    from workloads import CIFAR_SCORING, WORKLOADS

    names = WORKLOADS[args.workload]
    rng = random.Random(args.seed)
    tree = proctree.Tree()
    cpu0 = tree.cpu()
    passes: list[float] = []
    samples: list[tuple[str, float]] = []
    bad: dict[str, str] = {}
    failed = 0
    start = time.perf_counter()
    log("measure")
    while not passes or time.perf_counter() - start < args.seconds:
        for name in rng.sample(names, len(names)):
            wall, err = bench.run_op(name)
            samples.append((name, wall))
            if err:
                failed += 1
                bad[name] = err
        passes.append(sum(wall for _, wall in samples[-len(names):]))
    tree.refresh()
    cpu = (tree.cpu() - cpu0 - bench.check_cpu_s) / len(passes)
    rss = tree.peak_rss_mb()
    log("operation walls " + " ".join(f"{n}={w:.2f}" for n, w in samples))
    log("peak RSS MB by pid " + " ".join(f"{pid}={mb:.0f}" for pid, mb in rss.items()))

    metrics = {
        "setup_s": (sum(setup_metrics.values()), "s"),
        "pass_s": (statistics.median(passes), "s"),
        "cpu_s": (cpu, "s"),
        "peak_rss_mb": (sum(rss.values()), "MB"),
    }
    extra = {"fail_frac": (failed / len(samples), "1")}
    notes = {
        "pass_s": f"median of {len(passes)} pass(es)",
        "cpu_s": "per pass: driver, JVM and Python workers",
        "peak_rss_mb": "sum of each process's peak RSS in that tree",
    }
    cifar_walls = [w for n, w in samples if n == CIFAR_SCORING]
    if cifar_walls:
        extra["images_per_s"] = (bench.cifar.n_images / statistics.median(cifar_walls), "1/s")
        notes["images_per_s"] = f"{bench.cifar.n_images} images / cifar_scoring wall"
    return metrics, {"notes": notes, "extra": extra, "attempted": len(samples),
                     "failed": failed, "bad": bad}


def traced(args, bench: Workbench, setup_metrics: dict) -> tuple[dict, dict]:
    import proctree
    import tracing
    from workloads import LLM_PIPELINE, WORKLOADS

    spark = bench.spark
    sc = spark.sparkContext
    own = WORKLOADS[args.workload]
    rng = random.Random(args.seed)
    others = [n for w, ns in sorted(WORKLOADS.items()) if w != args.workload for n in ns]
    order = rng.sample(own, len(own)) + rng.sample(others, len(others))
    tree = proctree.Tree()

    def jobs() -> dict[str, float]:
        return {"jobs": tracing.jobs_submitted(sc)}

    def jobs_and_cpu() -> dict[str, float]:
        return {"jobs": tracing.jobs_submitted(sc), "cpu_s": tree.cpu()}

    def driver_cpu() -> dict[str, float]:
        return {"driver_cpu_s": tree.driver_cpu()}

    tracer = tracing.Tracer()
    modules = {
        m: importlib.import_module(f"hdinsight_pyspark_cntk_integration_spark.operators.{m}")
        for m in (*OPERATOR_MODULES, "scoring")
    }
    phases: dict[str, dict] = {}
    bad: dict[str, str] = {}
    log("traced pass")
    undo = tracing.instrument(tracer, modules, jobs_and_cpu)
    try:
        for op_id, name in enumerate(order):
            tree.refresh()
            op = bench.ops[name]
            tracer.op_id = op_id
            try:
                with tracer.span(name, driver_cpu) as whole:
                    with tracer.span("construct", jobs) as c:
                        df = op.build()
                    with tracer.span("plan", jobs) as p:
                        df._jdf.queryExecution().executedPlan()
                    with tracer.span("execute", jobs) as e:
                        output = op.execute(df)
                err = bench.check(name, output)
                phases[name] = {"op": whole, "construct": c, "plan": p, "execute": e}
            except Exception as exc:
                err = f"raised {type(exc).__name__}: {exc}"
            if err:
                bad[name] = err
    finally:
        undo()
    if bad:
        # A layer breakdown of a pass that did not complete would mislead.
        return {}, {"notes": {}, "extra": {}, "attempted": len(order),
                    "failed": len(bad), "bad": bad}

    def wall(span) -> float:
        return span.end - span.start

    layer: dict[str, tuple[float, str]] = {k: (v, "s") for k, v in setup_metrics.items()}
    by_id = {s.id: s for s in tracer.spans}
    for mod in OPERATOR_MODULES:
        # calls made by the query's own construction, not nested ones
        top = [
            s for s in tracer.spans
            if s.attrs.get("module") == mod and s.parent is not None
            and by_id[s.parent].name == "construct"
        ]
        layer[f"{mod}.construct_s"] = (sum(wall(s) for s in top), "s")
        layer[f"{mod}.construct_jobs"] = (sum(s.attrs["jobs"] for s in top), "count")
        layer[f"{mod}.construct_cpu_s"] = (sum(s.attrs["cpu_s"] for s in top), "s")
    for name in LLM_PIPELINE:
        c = phases[name]["construct"]
        layer[f"{name}.construct_s"] = (wall(c), "s")
        layer[f"{name}.construct_jobs"] = (c.attrs["jobs"], "count")
    layer["catalyst.plan_s"] = (sum(wall(v["plan"]) for v in phases.values()), "s")

    log("stage accounting")
    stages = tracing.StageAccounting(spark)
    exec_spans = [v["execute"] for v in phases.values()]
    work = stages.totals(
        [(s.attrs["first_job"], s.attrs["first_job"] + s.attrs["jobs"]) for s in exec_spans]
    )
    layer["exec.wall_s"] = (sum(wall(s) for s in exec_spans), "s")
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        layer[f"exec.{key}"] = (work[key], "count")
    for key in ("cpu_s", "run_s", "gc_s"):
        layer[f"exec.{key}"] = (work[key], "s")
    for key in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        layer[f"exec.{key}"] = (work[key], "B")
    layer["driver.cpu_s"] = (sum(v["op"].attrs["driver_cpu_s"] for v in phases.values()), "s")

    log("layer probes")
    layer.update(scoring_probes(bench))
    layer.update(lsh_probe(bench))

    layer["trace.pass_s"] = (sum(wall(phases[n]["op"]) for n in own), "s")

    tracer.dump(os.path.join(BUILD, f"trace-{args.workload}-seed{args.seed}.json"))
    notes = {"trace.pass_s": f"traced wall of the {args.workload} operations"}
    lines = ["phase split (s; jobs); the phases are contiguous, so they add up to the wall"]
    for name in order:
        v = phases[name]
        lines.append(
            f"  {name:28s} wall {wall(v['op']):7.3f}"
            + "".join(
                f"  {k} {wall(v[k]):7.3f} ({v[k].attrs['jobs']:3d})"
                for k in ("construct", "plan", "execute")
            )
        )
    for w, ns in sorted(WORKLOADS.items()):
        total = sum(wall(phases[n]["op"]) for n in ns)
        lines.append(
            f"  {w}: wall {total:.3f}"
            + "".join(
                f"  {k} {sum(wall(phases[n][k]) for n in ns) / total:.0%}"
                for k in ("construct", "plan", "execute")
            )
            + f"  construct jobs {sum(phases[n]['construct'].attrs['jobs'] for n in ns)}"
        )
    return layer, {"notes": notes, "extra": {}, "lines": lines, "attempted": len(order),
                   "failed": 0, "bad": {}}


def scoring_probes(bench: Workbench) -> dict:
    """Source read, scorer, evaluation and sink of the CIFAR pipeline,
    each timed on its own."""
    from hdinsight_pyspark_cntk_integration_spark.operators import relational as rel
    from hdinsight_pyspark_cntk_integration_spark.sources.io import write_single_csv

    from workloads import check_confusion, check_csv, cifar_scored, confusion_pairs

    spark, cifar = bench.spark, bench.cifar

    def timed(fn) -> float:
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    read = spark.read.format("cifar_pickle").option("member_filter", "_batch").load(cifar.path)
    read_s = timed(lambda: read.write.format("noop").mode("overwrite").save())
    scored = cifar_scored(spark, cifar)
    score_s = timed(lambda: scored.write.format("noop").mode("overwrite").save()) - read_s
    cached = scored.cache()
    rows = cached.count()
    confusion = []
    confusion_s = timed(
        lambda: confusion.extend(
            rel.confusion_counts(cached, "label", "predicted_label").collect()
        )
    )
    out = os.path.join(bench.out_dir, "probe_csv")
    sink_s = timed(
        lambda: write_single_csv(
            cached.select("batch", "row_in_batch", "label", "predicted_label"), out
        )
    )
    cached.unpersist()
    err = check_confusion(confusion_pairs(confusion), cifar) or check_csv(out, cifar)
    if err:
        raise RuntimeError(f"CIFAR probe: {err}")
    sink_bytes = sum(
        os.path.getsize(os.path.join(out, f)) for f in os.listdir(out) if f.startswith("part-")
    )
    return {
        "sources.read_s": (read_s, "s"),
        "sources.input_bytes": (cifar.archive_bytes, "B"),
        "sources.sink_s": (sink_s, "s"),
        "sources.sink_bytes": (sink_bytes, "B"),
        "scoring.score_s": (score_s, "s"),
        "scoring.rows": (rows, "count"),
        "relational.confusion_s": (confusion_s, "s"),
    }


def lsh_probe(bench: Workbench) -> dict:
    """minhash_near_dup's candidate generation and verification, counted
    separately: how many LSH candidates survive the exact Jaccard check."""
    from hdinsight_pyspark_cntk_integration_spark.operators import dedup as dd
    from hdinsight_pyspark_cntk_integration_spark.sources.catalog import load_table

    docs = load_table(bench.spark, bench.sf_dir, "documents")
    sh = dd.hashed_shingle_table(docs, hash_family="md5")
    cands = dd.minhash_lsh_candidates(
        docs, num_hashes=32, bands=8, hash_family="md5", shingles=sh
    )
    n_cands = cands.count()
    n_verified = dd.jaccard_pairs(
        docs, cands, threshold=0.5, hash_family="md5", shingles=sh
    ).count()
    return {
        "dedup.candidate_pairs": (n_cands, "count"),
        "dedup.verified_pairs": (n_verified, "count"),
        "dedup.verify_yield": (n_verified / n_cands if n_cands else 0.0, "ratio"),
    }


def report(args, metrics: dict, info: dict) -> None:
    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
          f"scale={args.scale}")
    for name, (value, unit) in {**metrics, **info["extra"]}.items():
        print(f"  {name:34s} {value:16.4f} {unit:6s} {info['notes'].get(name, '')}")
    for line in info.get("lines", ()):
        print(line)
    for name, err in sorted(info["bad"].items()):
        print(f"  FAILED {name}: {err}")
    result = {
        "correct": info["failed"] == 0,
        "attempted": info["attempted"],
        "failed": info["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))


def main(argv: list[str]) -> int:
    sys.path.insert(0, HERE)
    from workloads import CIFAR_SCORING, WORKLOADS

    args = parse_args(argv)
    if args.trace:
        names = [n for ns in WORKLOADS.values() for n in ns]
    else:
        names = WORKLOADS[args.workload]
    unknown = set(args.corrupt_expected) - set(names)
    if unknown:
        raise SystemExit(f"perfbench: --corrupt-expected {sorted(unknown)}: not run here")
    require_engine()
    sys.path.insert(0, ROOT)
    conf = prepare_environment()
    if args.trace:
        import tracing

        conf.update(tracing.RETENTION_CONF)
    shutil.rmtree(os.path.join(BUILD, "out"), ignore_errors=True)
    log("inputs")
    generate_inputs(args.scale, args.seed, CIFAR_SCORING in names)
    log("setup")
    spark, setup_metrics = setup(conf)
    try:
        bench = Workbench(spark, args.scale, names, args.corrupt_expected)
        run = traced if args.trace else untraced
        metrics, info = run(args, bench, setup_metrics)
        log("shutdown")
    finally:
        shutdown(spark)
    report(args, metrics, info)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
