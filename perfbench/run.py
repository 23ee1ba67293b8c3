"""KG benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload pyspark_kg --seed 1 --seconds 8 --trace 0

Run from the repository root. One driver process runs ``local[nproc]`` with
one closed-loop client (each build or query starts after the previous one
ended) and no extra threads. ``--trace 0`` times one ``run_pipeline`` build
and SPARQL passes and prints the end-to-end metrics; ``--trace 1`` runs the
layers one at a time inside spans, then the driver queries of
``__spark_entry__``, and prints the per-layer metrics. Both
check the outputs outside the timed windows and exit 1 (after printing the
result with ``"correct": false``) when a check fails. See NOTES.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("pyspark_kg", "synth_link")


def pin_environment(workdir: str) -> dict:
    """Fix what the run depends on before the JVM starts, and return it."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_total_mb = next(int(line.split()[1]) // 1024 for line in f
                            if line.startswith("MemTotal:"))
    # 1 GB, or an eighth of physical memory if that is less: the session's
    # own default heap is sized for a large host, and a heap far above the
    # workloads' live data lets the JVM's resident size follow the
    # collector's heap growth, which differs from run to run
    heap_mb = min(1024, mem_total_mb // 8)
    local_dir = os.path.join(workdir, "spark-local")
    tmp_dir = os.path.join(workdir, "tmp")
    for d in (local_dir, tmp_dir):
        os.makedirs(d)
    old_path = os.environ.get("PYTHONPATH")
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": local_dir,
        "TMPDIR": tmp_dir,
        # Python workers import the package from this checkout
        "PYTHONPATH": ROOT + (os.pathsep + old_path if old_path else ""),
        "PYSPARK_PYTHON": sys.executable,
        # spark-submit's launcher JVM: no perf-data file in the system /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    os.environ.update(env)
    return dict(env, cpus=cpus, mem_total_mb=mem_total_mb)


def start_spark(env: dict):
    from codeontologypython_spark.session import get_spark

    tmp = env["TMPDIR"]
    return get_spark(
        cpus=env["cpus"], app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session and wait until the JVM and its Python workers have
    exited. After ``spark.stop()`` alone the JVM lives on for seconds, past
    this process's exit and the removal of its work directory."""
    from pyspark import SparkContext

    from perfbench.measure import process_tree

    children = process_tree()[1:]
    spark.stop()
    proc = SparkContext._gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while any(_running(p) for p in children):
        if time.monotonic() > deadline:
            raise RuntimeError("Spark processes outlived the session")
        time.sleep(0.05)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            return f.read().rsplit(b")", 1)[1].split()[0] != b"Z"
    except OSError:
        return False


def run(args, workdir: str) -> tuple[dict, bool]:
    env = pin_environment(workdir)
    import codeontologypython_spark

    pkg = os.path.dirname(os.path.abspath(codeontologypython_spark.__file__))
    if os.path.dirname(pkg) != ROOT:
        raise RuntimeError(f"package imported from {pkg}, not this checkout")
    print("perfbench-env " + json.dumps(env, sort_keys=True), flush=True)

    from perfbench import entry
    from perfbench.kg import (
        PER_LAYER,
        SIZES,
        SPARQL,
        KGRun,
        geomean,
        kept_files,
        make_workload,
        table_digest,
    )
    from perfbench.measure import MemorySampler, Tracer

    t0 = time.perf_counter()
    spark = start_spark(env)
    session_s = time.perf_counter() - t0
    try:
        memory = MemorySampler()
        wl = make_workload(args.workload, args.seed)
        kg = KGRun(spark, wl, workdir, args.seed, args.seconds, memory)
        kg.load_input()
        setup_s = time.perf_counter() - T_START

        from codeontologypython_spark.sources.tables import read_triple_table

        if not args.trace:
            res, build_s = kg.build("build")
            table = read_triple_table(spark, res.triples_path)
            passes, per_query, rows = kg.query_passes(table)
            errors = kg.check_build(res)
            kg.check_queries(rows)
            metrics = {
                "setup_s": (setup_s, "s"),
                "build_s": (build_s, "s"),
                "build_files_per_s": (len(wl.rows) / build_s, "1/s"),
                "query_pass_s": (statistics.median(passes), "s"),
                "query_geomean_ms": (geomean([statistics.median(v) for v
                                              in per_query.values() if v]),
                                     "ms"),
                "peak_rss_mb": (memory.peak_mb, "MB"),
            }
        else:
            # the staged build is the process's first build, cold like the
            # build_s of --trace 0, so its spans split that cost; the
            # run_pipeline build after it runs warm
            tracer = Tracer(spark, memory)
            staged = tracer.run("build", lambda: kg.staged_build(tracer))
            res, build_s = tracer.run("pipeline", lambda: kg.build("build"))
            if table_digest(staged["table_path"]) != table_digest(
                    res.triples_path):
                kg.problems.append("staged build differs from run_pipeline")
            table = read_triple_table(spark, staged["table_path"])
            passes, per_query, rows = kg.query_passes(table, tracer)
            kept = kept_files(res)
            files_per_s = kg.pyfile_rate(kept)
            errors = kg.check_build(res)
            kg.check_queries(rows)
            print("perfbench-note sizes " + json.dumps(
                {k: staged[k] for k in SIZES}), file=sys.stderr)
            # the driver queries share no layer with the KG build; they run
            # here so that the prediction "a KG change leaves them flat" is
            # measured
            kg.query_failures += entry.check_against_oracles(spark,
                                                             kg.problems)
            entry_ms, entry_runs, entry_failed = entry.timed_passes(
                spark, tracer, kg.rng, args.seconds, kg.problems)
            kg.query_runs += len(entry.HEADLINE) + entry_runs
            kg.query_failures += entry_failed
            tracer.dump(os.path.join(
                _out_dir(), f"spans-{args.workload}-{args.seed}.json"))
            metrics = _per_layer(tracer, staged, session_s, files_per_s,
                                 build_s, SPARQL, PER_LAYER)
            metrics.update((k, (v, "ms")) for k, v in entry_ms.items())
    finally:
        stop_spark(spark)
    result = {
        "correct": not kg.problems,
        "attempted": len(wl.rows) + kg.query_runs,
        "failed": errors + kg.query_failures,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u)
                    in metrics.items()},
    }
    for p in kg.problems:
        print(f"perfbench-check FAILED: {p}", file=sys.stderr)
    return result, not kg.problems


def _per_layer(tracer, staged, session_s, files_per_s, build_s, sparql,
               names) -> dict:
    stages = ("closure", "extract", "linking", "canonicalize",
              "tables.write", "ntriples.write")
    stage_s = {s: tracer.get(s).seconds for s in stages}
    out = {"session.start_s": session_s, "pyfile.files_per_s": files_per_s}
    for s in ("closure", "extract", "linking", "canonicalize"):
        out[f"{s}.s"] = stage_s[s]
        out[f"{s}.jobs"] = tracer.get(s).jobs
    out["tables.write_s"] = stage_s["tables.write"]
    out["tables.write_jobs"] = tracer.get("tables.write").jobs
    out["ntriples.write_s"] = stage_s["ntriples.write"]
    # run_pipeline's jobs outside the stages: lineage writes, the resume
    # probe, the final count
    out["pipeline.jobs"] = tracer.get("pipeline").jobs
    out["pipeline.overhead_jobs"] = out["pipeline.jobs"] - sum(
        tracer.get(s).jobs for s in stages)
    out["pipeline.warm_build_s"] = build_s
    out["trace.staged_build_s"] = tracer.get("build").seconds
    # per query: median latency over passes; jobs of one pass = the sum of
    # each query's median job count
    jobs = 0
    for q in sparql:
        spans = [s for s in tracer.spans if s.name == f"sparql.{q}"]
        out[f"sparql.{q}_ms"] = statistics.median(s.seconds * 1000.0
                                                  for s in spans)
        jobs += statistics.median(s.jobs for s in spans)
    out["sparql.jobs"] = jobs
    return {k: (out[k], u) for k, u in names if k in out}


def _out_dir() -> str:
    d = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(d, exist_ok=True)
    return d


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="minimum wall time of each set of timed query passes")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    workdir = os.path.join(ROOT, ".perfbench_work",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    try:
        result, ok = run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:  # another run's work directory is still there
            pass
    print(json.dumps(result), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
