"""Per-query isolation bench + plan capture (guide §1.4/§7.2).

NOT the frozen driver bench (bench.py) — this harness exists so each
optimization round can (a) time single queries with repeats without
paying the full 69-query run, (b) capture `.explain("formatted")`
before/after into plans/r*/ for the judge, and (c) time with a noop
sink instead of count() when column pruning would hide the work.

Usage:
  python bench_extra.py [--tag before|after] [--plans-dir plans/r07]
                        [--repeats 3] [--noop] [--explain-only]
                        query [query ...]

Timing methodology matches bench.py: one untimed warmup build+action,
then timed build+action (repeats, report all + min). `--noop` uses
df.write.format("noop") which computes every column (guide §1.4);
default is .count() — the action the frozen bench times.

Next to each wall sample it reports the layers an A/B needs to name:
the seconds the python build of the DataFrame took (`build_s`), the
py4j commands the driver sent the JVM during the sample (`py4j`, build
and action, counted at py4j's `GatewayClient.send_command`), the
higher-order-function lambdas in the query's executed plan (`lambdas`,
the count of `lambdafunction`: each runs interpreted, once per array
element), the
process tree's CPU seconds (driver, JVM less its JIT compiler
threads, python workers; `perfbench.run.tree_usage`), the number of
classes Janino compiled (Spark's `CodegenMetrics`), the number of
Spark jobs the sample ran (build and action, one job group each), and,
read right after the sample, the tree's python processes (the driver,
daemons and workers: `py_procs`) and their summed RSS (`py_rss_mb`;
pages the workers share with their daemon count once per process).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pdf_metadata_extraction_spark.session import default_cpus  # noqa: E402
from perfbench.run import process_tree, tree_usage  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cpus()


def python_processes() -> int:
    """Live processes in this tree other than the JVM (the driver and the
    python daemons and workers), counted as ``tree_usage`` sums RSS."""
    n = 0
    for p in process_tree():
        try:
            with open(f"/proc/{p}/comm") as fh:
                n += fh.read().strip() != "java"
        except OSError:
            pass  # the process exited
    return n


def count_py4j(sc) -> list[int]:
    """Count, in the returned one-element list, every command the driver
    sends the JVM from now on: one per Java call, field read or object
    creation. The releases of collected Java references are left out:
    py4j's finalizer thread sends them whenever python's garbage
    collector runs, so they would make the count vary run to run."""
    client = sc._gateway._gateway_client
    n = [0]
    send = client.send_command

    def counted(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            n[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counted
    return n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--tag", default=None, help="write plans/<dir>/<q>_<tag>.txt")
    ap.add_argument("--plans-dir", default="plans/r07")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--explain-only", action="store_true")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from pdf_metadata_extraction_spark.session import get_spark

    spark = get_spark(
        app_name="bench_extra", master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(1024 * 1024),
            "spark.sql.files.openCostInBytes": str(256 * 1024),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    q_entries = entrymod.queries()
    compilations = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                    .METRIC_COMPILATION_TIME())
    sent = count_py4j(sc)

    out: dict[str, dict] = {}
    for name in args.queries:
        fn = q_entries[name]
        sc.setJobDescription(f"bench_extra:{name}")
        if args.tag:
            df = fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            os.makedirs(args.plans_dir, exist_ok=True)
            p = os.path.join(args.plans_dir, f"{name}_{args.tag}.txt")
            with open(p, "w") as f:
                f.write(plan)
            print(f"# plan -> {p}", file=sys.stderr)
        if args.explain_only:
            continue

        def action():
            """Build and run the query; returns the build's seconds and
            the frame."""
            t = time.monotonic()
            df = fn(spark, SF_DIR)
            built = time.monotonic() - t
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            return built, df

        action()  # warmup, untimed (bench.py methodology)
        samples, build, py4j, cpu, compiles, jobs, py_procs, py_rss = (
            [], [], [], [], [], [], [], []
        )
        lambdas = []
        for i in range(args.repeats):
            group = f"bench_extra:{name}:{i}"
            sc.setJobGroup(group, f"bench_extra:{name}")
            _, cpu0, jit0 = tree_usage()
            n0 = compilations.getCount()
            s0 = sent[0]
            t0 = time.monotonic()
            built, df = action()
            build.append(round(built, 3))
            samples.append(round(time.monotonic() - t0, 3))
            py4j.append(sent[0] - s0)
            compiles.append(compilations.getCount() - n0)
            rss1, cpu1, jit1 = tree_usage()
            py_procs.append(python_processes())
            py_rss.append(round(rss1["python"], 1))
            jit_s = sum(v - jit0.get(tid, 0.0) for tid, v in jit1.items())
            cpu.append(round(sum(cpu1.values()) - sum(cpu0.values()) - jit_s, 3))
            # the status store is fed by the listener bus: drain it
            # before counting the group's jobs
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            # planned after the sample is read, so it costs the sample
            # nothing
            lambdas.append(
                df._jdf.queryExecution().executedPlan().toString()
                .count("lambdafunction")
            )
        out[name] = {"min": min(samples), "samples": samples,
                     "build_s": build, "py4j": py4j, "lambdas": lambdas,
                     "cpu_s": cpu, "compiles": compiles, "jobs": jobs,
                     "py_procs": py_procs, "py_rss_mb": py_rss}
        print(f"{name}: min={min(samples)} samples={samples} build_s={build} "
              f"py4j={py4j} lambdas={lambdas} cpu_s={cpu} compiles={compiles} jobs={jobs} "
              f"py_procs={py_procs} py_rss_mb={py_rss}", file=sys.stderr)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
